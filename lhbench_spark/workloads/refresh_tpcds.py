"""Multi-fact TPC-DS refresh pipeline — the reference's refresh BREADTH.

The reference's incremental benchmark stages ~20 refresh flat-files per
round and folds them through 7 join-dense views into 7 fact tables
(TPCDSRefreshSchema.scala:24-561 staging schemas, :566-845 the
crv/csv/iv/srv/ssv/wrv/wsv views; merge loop
IncrementalTPCDSBenchmark.scala:259-283). The TPC-H-shaped refresh
workload (refresh.py) reaches the reference's join DENSITY on one fact
pair; this module reaches its BREADTH: the reference's full seven fact
tables (store_sales / web_sales / catalog_sales / store_returns /
web_returns / catalog_returns / inventory, matching the ssv / wsv / csv
/ srv / wrv / crv / iv view roster of TPCDSRefreshSchema.scala:566-845),
each with its own staged CSV delta, its own join-dense refresh view
through its own dimension chain, and its own MERGE per round. One table,
``CHAINS``, wires those seven views and the seven reference-density
chains (staging producer, view, dims); ``stage_chain`` and
``chain_view`` drive both the runner below and the gate queries.

Scale notes (same discipline as refresh.py): staging scans are
explicit-schema CSV (no inference job). The reference states its
staging schemas by hand (TPCDSRefreshSchema.scala:24-561) because
dsdgen writes its files; here every read passes the schema the staging
frame was written with. Each view is left-outer joins
where only AQE decides dimension strategy (deltas are the small side
after a round — forced dim broadcasts would OOM at 100×); merges are
file-level CoW on key-clustered tables, cost O(touched files + delta).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lhbench_spark.functions.numeric import dsum
from lhbench_spark.harness import BenchmarkReport, BenchmarkRunner
from lhbench_spark.tables import ManagedTable
from lhbench_spark.tpcds_data import materialize
from lhbench_spark.workloads.refresh import read_staging_csv, write_staging_csv

# Surrogate upsert key per fact: the natural key's columns folded
# base-10000 (items within one ticket/order are distinct by
# construction; warehouse count << 10000) — the single-column merge key
# the manifest table clusters on, like refresh.py's l_linekey. A round's
# delta is the slice of the key's first column ≡ round (mod 7); `bump`
# is the integer measure each refresh round increments by 100 (the
# dsdgen refresh-file analog, CSV-exact, decimal-rule-free).
FACTS: dict[str, dict] = {
    "store_sales": {
        "prefix": "ss", "key": ("ss_ticket_number", "ss_item_sk"), "bump": "ss_quantity",
    },
    "web_sales": {
        "prefix": "ws", "key": ("ws_order_number", "ws_item_sk"), "bump": "ws_quantity",
    },
    "catalog_sales": {
        "prefix": "cs", "key": ("cs_order_number", "cs_item_sk"), "bump": "cs_quantity",
    },
    "store_returns": {
        "prefix": "sr", "key": ("sr_ticket_number", "sr_item_sk"), "bump": "sr_return_quantity",
    },
    "web_returns": {
        "prefix": "wr", "key": ("wr_order_number", "wr_item_sk"), "bump": "wr_return_quantity",
    },
    "catalog_returns": {
        "prefix": "cr", "key": ("cr_order_number", "cr_item_sk"), "bump": "cr_return_quantity",
    },
    "inventory": {
        "prefix": "inv",
        "key": ("inv_date_sk", "inv_item_sk", "inv_warehouse_sk"),
        "bump": "inv_quantity_on_hand",
    },
}


def _key_col(fact: str) -> F.Column:
    cols = FACTS[fact]["key"]
    # bigint fold: int32 components (inventory's date_sk ~2.45M) overflow
    # at the first ×10000 otherwise
    expr = F.col(cols[0]).cast("bigint")
    for c in cols[1:]:
        expr = expr * 10000 + F.col(c).cast("bigint")
    return expr.alias(f"{FACTS[fact]['prefix']}_key")


def fact_frame(spark: SparkSession, sf_dir: str, fact: str) -> DataFrame:
    """The generated fact read from its materialized parquet."""
    out = materialize(spark, sf_dir)
    return spark.read.parquet(f"{out}/{fact}")


def fact_with_key(spark: SparkSession, sf_dir: str, fact: str) -> DataFrame:
    df = fact_frame(spark, sf_dir, fact)
    return df.select(_key_col(fact), *df.columns)


def stage_delta(
    spark: SparkSession, sf_dir: str, fact: str, round_no: int
) -> DataFrame:
    """One refresh round's delta for one fact: the slice of whole
    tickets/orders (dates for inventory) with number ≡ round (mod 7),
    the fact's integer measure bumped by 100 (CSV-exact,
    decimal-rule-free) and — where the fact has one — promo re-pointed;
    the dsdgen refresh-file analog, raw fact shape (no surrogate key;
    the key is derived after the staged read, like dsdgen's)."""
    meta = FACTS[fact]
    df = fact_frame(spark, sf_dir, fact)
    out = df.filter((F.col(meta["key"][0]) % 7) == (round_no % 7)).withColumn(
        meta["bump"], F.col(meta["bump"]) + 100
    )
    promo = f"{meta['prefix']}_promo_sk"
    if promo in df.columns:
        out = out.withColumn(promo, F.lit(1))
    return out


def _dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    out = materialize(spark, sf_dir)
    return spark.read.parquet(f"{out}/{name}")


def ssv_view(delta: DataFrame, date_dim, store, item, customer, address) -> DataFrame:
    """store_sales refresh view (the ssv shape): delta → date_dim →
    store → item → customer → current address, derived measures. 5
    left-outer joins; no hints — AQE sizes every side."""
    return (
        delta.join(date_dim, delta.ss_sold_date_sk == date_dim.d_date_sk, "left")
        .join(store, delta.ss_store_sk == store.s_store_sk, "left")
        .join(item, delta.ss_item_sk == item.i_item_sk, "left")
        .join(customer, delta.ss_customer_sk == customer.c_customer_sk, "left")
        .join(address, customer.c_current_addr_sk == address.ca_address_sk, "left")
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("sale_year"),
            F.coalesce(store.s_state, F.lit("UNKNOWN")).alias("store_state"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(address.ca_state, F.lit("UNKNOWN")).alias("cust_state"),
            F.col("ss_quantity").alias("quantity"),
            F.col("ss_ext_sales_price").alias("ext_sales"),
            F.col("ss_net_profit").alias("net_profit"),
        )
    )


def wsv_view(delta: DataFrame, date_dim, item, customer, address) -> DataFrame:
    """web_sales refresh view (the wsv shape): delta → date_dim → item →
    bill customer → current address."""
    return (
        delta.join(date_dim, delta.ws_sold_date_sk == date_dim.d_date_sk, "left")
        .join(item, delta.ws_item_sk == item.i_item_sk, "left")
        .join(customer, delta.ws_bill_customer_sk == customer.c_customer_sk, "left")
        .join(address, customer.c_current_addr_sk == address.ca_address_sk, "left")
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("sale_year"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(address.ca_state, F.lit("UNKNOWN")).alias("cust_state"),
            F.col("ws_quantity").alias("quantity"),
            F.col("ws_ext_sales_price").alias("ext_sales"),
        )
    )


def csv_view(delta: DataFrame, date_dim, item, cdemo, promotion) -> DataFrame:
    """catalog_sales refresh view (the crv/csv shape): delta → date_dim
    → item → bill demographics → promotion."""
    return (
        delta.join(date_dim, delta.cs_sold_date_sk == date_dim.d_date_sk, "left")
        .join(item, delta.cs_item_sk == item.i_item_sk, "left")
        .join(cdemo, delta.cs_bill_cdemo_sk == cdemo.cd_demo_sk, "left")
        .join(promotion, delta.cs_promo_sk == promotion.p_promo_sk, "left")
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("sale_year"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(cdemo.cd_education_status, F.lit("UNKNOWN")).alias("education"),
            F.coalesce(promotion.p_channel_email, F.lit("N")).alias("promo_email"),
            F.col("cs_quantity").alias("quantity"),
            F.col("cs_ext_sales_price").alias("ext_sales"),
        )
    )


def srv_view(delta: DataFrame, date_dim, store, item, reason) -> DataFrame:
    """store_returns refresh view (the srv shape): delta → date_dim →
    store → item → reason."""
    return (
        delta.join(date_dim, delta.sr_returned_date_sk == date_dim.d_date_sk, "left")
        .join(store, delta.sr_store_sk == store.s_store_sk, "left")
        .join(item, delta.sr_item_sk == item.i_item_sk, "left")
        .join(reason, delta.sr_reason_sk == reason.r_reason_sk, "left")
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("sale_year"),
            F.coalesce(store.s_state, F.lit("UNKNOWN")).alias("store_state"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(reason.r_reason_desc, F.lit("UNKNOWN")).alias("reason"),
            F.col("sr_return_quantity").alias("quantity"),
            F.col("sr_return_amt").alias("ret_amt"),
            F.col("sr_net_loss").alias("net_loss"),
        )
    )


def wrv_view(delta: DataFrame, date_dim, item, customer, address) -> DataFrame:
    """web_returns refresh view (the wrv shape): delta → date_dim → item
    → returning customer → returning address."""
    return (
        delta.join(date_dim, delta.wr_returned_date_sk == date_dim.d_date_sk, "left")
        .join(item, delta.wr_item_sk == item.i_item_sk, "left")
        .join(
            customer,
            delta.wr_returning_customer_sk == customer.c_customer_sk,
            "left",
        )
        .join(address, delta.wr_returning_addr_sk == address.ca_address_sk, "left")
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("sale_year"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(address.ca_state, F.lit("UNKNOWN")).alias("ret_state"),
            F.col("wr_return_quantity").alias("quantity"),
            F.col("wr_return_amt").alias("ret_amt"),
        )
    )


def crv_view(delta: DataFrame, date_dim, item, customer) -> DataFrame:
    """catalog_returns refresh view (the crv shape): delta → date_dim →
    item → returning customer."""
    return (
        delta.join(date_dim, delta.cr_returned_date_sk == date_dim.d_date_sk, "left")
        .join(item, delta.cr_item_sk == item.i_item_sk, "left")
        .join(
            customer,
            delta.cr_returning_customer_sk == customer.c_customer_sk,
            "left",
        )
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("sale_year"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(customer.c_birth_country, F.lit("UNKNOWN")).alias("country"),
            F.col("cr_return_quantity").alias("quantity"),
            F.col("cr_return_amount").alias("ret_amt"),
        )
    )


def iv_view(delta: DataFrame, date_dim, item, warehouse) -> DataFrame:
    """inventory refresh view (the iv shape): delta → date_dim → item →
    warehouse; the measure is quantity-on-hand (no money column)."""
    return (
        delta.join(date_dim, delta.inv_date_sk == date_dim.d_date_sk, "left")
        .join(item, delta.inv_item_sk == item.i_item_sk, "left")
        .join(warehouse, delta.inv_warehouse_sk == warehouse.w_warehouse_sk, "left")
        .select(
            F.coalesce(date_dim.d_year, F.lit(0)).alias("inv_year"),
            F.coalesce(item.i_category, F.lit("UNKNOWN")).alias("category"),
            F.coalesce(warehouse.w_state, F.lit("UNKNOWN")).alias("wh_state"),
            F.col("inv_quantity_on_hand").alias("qoh"),
        )
    )


# ---------------------------------------------------------------------------
# Dense catalog staging chain — the reference's csv_view DENSITY.
#
# The reference stages the catalog channel as an order-header/lineitem
# flat-file PAIR carrying business ids and raw dates, and its refresh
# view resolves every surrogate key through a dimension join:
# s_catalog_order + s_catalog_order_lineitem LEFT-joined to date_dim ×2,
# time_dim, customer ×2, call_center, ship_mode, catalog_page (composite
# (catalog_number, page_number) key), warehouse, item, promotion — 12
# joins (TPCDSRefreshSchema.scala:160-287 staging schemas, :737-788 the
# view). The simple csv_view above joins 4 post-hoc dims; this chain
# reproduces the reference shape: 2 staged relations + 11 dim joins.
#
# Deviations, both forced by the generated dims:
# - clin_item_sk stays a surrogate key: the generated item dim is
#   SCD-style (i_item_id deliberately non-unique, ~2 sks per id) but has
#   no i_rec_end_date column, so the reference's `i_rec_end_date IS
#   NULL` disambiguator (TPCDSRefreshSchema.scala:787) has no analog.
# - catalog_page's composite (number, page_number) key is ambiguous for
#   20 of 120 pages (the 1+id%100 mixer wraps), so the view joins a
#   MIN-sk-per-composite subview — the same shape as the reference's
#   composite join (:784-785), made deterministic.

_D0_SQL = "DATE'1998-01-01'"


def _sk_to_date(col: str) -> F.Column:
    """date_sk → calendar DATE (date_sk 2450815 = 1998-01-01), for
    staging files that carry raw dates like dsdgen's."""
    return F.expr(f"date_add({_D0_SQL}, CAST({col} - 2450815 AS INT))")


def _sk_to_id(col: str, prefix: str, width: int) -> F.Column:
    """Surrogate key → the dim's business-id string (the generated dims
    derive ids as PREFIX || lpad(sk)), for dsdgen-shaped staging."""
    return F.expr(f"'{prefix}' || lpad(CAST({col} AS STRING), {width}, '0')")


def stage_catalog_pair(
    spark: SparkSession, sf_dir: str, round_no: int
) -> tuple[DataFrame, DataFrame]:
    """One round's catalog delta split into the dsdgen-shaped staging
    pair: an order header (order-level attributes MIN-collapsed, keys
    rendered as business ids / calendar dates) and a lineitem file (one
    row per sale, catalog page rendered as the composite
    (catalog_number, page_number) the reference's view re-resolves)."""
    delta = stage_delta(spark, sf_dir, "catalog_sales", round_no)
    hdr = delta.groupBy("cs_order_number").agg(
        F.min("cs_sold_date_sk").alias("_date_sk"),
        F.min("cs_sold_time_sk").alias("cord_order_time"),
        F.min("cs_bill_customer_sk").alias("_bill_sk"),
        F.min("cs_ship_customer_sk").alias("_ship_sk"),
        F.min("cs_call_center_sk").alias("_cc_sk"),
        F.min("cs_ship_mode_sk").alias("_sm_sk"),
    ).select(
        F.col("cs_order_number").alias("cord_order_id"),
        _sk_to_date("_date_sk").alias("cord_order_date"),
        "cord_order_time",
        _sk_to_id("_bill_sk", "CUST", 10).alias("cord_bill_customer_id"),
        _sk_to_id("_ship_sk", "CUST", 10).alias("cord_ship_customer_id"),
        _sk_to_id("_cc_sk", "CC", 4).alias("cord_call_center_id"),
        _sk_to_id("_sm_sk", "SHIP", 4).alias("cord_ship_mode_id"),
    )
    cp = _dim(spark, sf_dir, "catalog_page")
    lin = delta.join(
        cp, delta.cs_catalog_page_sk == cp.cp_catalog_page_sk, "left"
    ).select(
        F.col("cs_order_number").alias("clin_order_id"),
        F.col("cs_item_sk").cast("int").alias("clin_item_sk"),
        F.col("cs_quantity").alias("clin_quantity"),
        F.col("cs_sales_price").alias("clin_sales_price"),
        F.col("cs_coupon_amt").alias("clin_coupon_amt"),
        F.col("cs_ext_ship_cost").alias("clin_ship_cost"),
        _sk_to_date("cs_ship_date_sk").alias("clin_ship_date"),
        F.col("cp_catalog_number").alias("clin_catalog_number"),
        F.col("cp_catalog_page_number").alias("clin_catalog_page_number"),
        _sk_to_id("cs_promo_sk", "PROMO", 6).alias("clin_promotion_id"),
        F.col("cs_warehouse_sk").alias("clin_warehouse_sk"),
    )
    return hdr, lin


def csv_dense_view(
    hdr: DataFrame,
    lin: DataFrame,
    date_dim: DataFrame,
    time_dim: DataFrame,
    customer: DataFrame,
    call_center: DataFrame,
    ship_mode: DataFrame,
    catalog_page: DataFrame,
    warehouse: DataFrame,
    item: DataFrame,
    promotion: DataFrame,
) -> DataFrame:
    """The reference csv_view shape: lineitem ⋈ order header, then every
    surrogate key resolved through its dimension (business-id equality
    for customer/call_center/ship_mode/promotion, calendar-date equality
    for the two date roles, raw seconds for time_dim, the composite
    (catalog_number, page_number) for catalog_page), with the money
    columns derived from item prices × staged quantity exactly as the
    reference computes them (TPCDSRefreshSchema.scala:755-772). No join
    hints — the staged delta is the small side and AQE sizes every dim."""
    d1, d2 = date_dim.alias("d1"), date_dim.alias("d2")
    c1, c2 = customer.alias("c1"), customer.alias("c2")
    cpd = catalog_page.groupBy("cp_catalog_number", "cp_catalog_page_number").agg(
        F.min("cp_catalog_page_sk").alias("cp_catalog_page_sk")
    )
    qty = F.col("clin_quantity")
    ext_sales = F.col("clin_sales_price") * qty
    net_paid = ext_sales - F.col("clin_coupon_amt")
    return (
        lin.join(hdr, F.col("clin_order_id") == F.col("cord_order_id"))
        .join(d1, F.col("cord_order_date") == F.col("d1.d_date"), "left")
        .join(time_dim, F.col("cord_order_time") == F.col("t_time"), "left")
        .join(c1, F.col("cord_bill_customer_id") == F.col("c1.c_customer_id"), "left")
        .join(c2, F.col("cord_ship_customer_id") == F.col("c2.c_customer_id"), "left")
        .join(call_center, F.col("cord_call_center_id") == F.col("cc_call_center_id"), "left")
        .join(ship_mode, F.col("cord_ship_mode_id") == F.col("sm_ship_mode_id"), "left")
        .join(d2, F.col("clin_ship_date") == F.col("d2.d_date"), "left")
        .join(
            cpd,
            (F.col("clin_catalog_number") == cpd.cp_catalog_number)
            & (F.col("clin_catalog_page_number") == cpd.cp_catalog_page_number),
            "left",
        )
        .join(warehouse, F.col("clin_warehouse_sk") == F.col("w_warehouse_sk"), "left")
        .join(item, F.col("clin_item_sk") == F.col("i_item_sk"), "left")
        .join(promotion, F.col("clin_promotion_id") == F.col("p_promo_id"), "left")
        .select(
            F.col("d1.d_date_sk").alias("cs_sold_date_sk"),
            F.col("d1.d_year").alias("sold_year"),
            F.col("t_time_sk").alias("cs_sold_time_sk"),
            F.col("d2.d_date_sk").alias("cs_ship_date_sk"),
            F.col("c1.c_customer_sk").alias("cs_bill_customer_sk"),
            F.col("c1.c_current_cdemo_sk").alias("cs_bill_cdemo_sk"),
            F.col("c1.c_current_addr_sk").alias("cs_bill_addr_sk"),
            F.col("c2.c_customer_sk").alias("cs_ship_customer_sk"),
            F.col("cc_call_center_sk").alias("cs_call_center_sk"),
            F.col("cc_name").alias("call_center_name"),
            F.col("cp_catalog_page_sk").alias("cs_catalog_page_sk"),
            F.col("sm_ship_mode_sk").alias("cs_ship_mode_sk"),
            F.col("w_warehouse_sk").alias("cs_warehouse_sk"),
            F.col("i_item_sk").alias("cs_item_sk"),
            F.col("p_promo_sk").alias("cs_promo_sk"),
            F.col("clin_order_id").alias("cs_order_number"),
            qty.alias("cs_quantity"),
            F.col("i_wholesale_cost").alias("cs_wholesale_cost"),
            F.col("i_current_price").alias("cs_list_price"),
            ((F.col("i_current_price") - F.col("clin_sales_price")) * qty).alias("cs_ext_discount_amt"),
            ext_sales.alias("cs_ext_sales_price"),
            (F.col("i_wholesale_cost") * qty).alias("cs_ext_wholesale_cost"),
            (F.col("i_current_price") * qty).alias("cs_ext_list_price"),
            net_paid.alias("cs_net_paid"),
            (net_paid - F.col("i_wholesale_cost") * qty).alias("cs_net_profit"),
        )
    )


def stage_web_pair(
    spark: SparkSession, sf_dir: str, round_no: int
) -> tuple[DataFrame, DataFrame]:
    """One round's web delta split into the dsdgen-shaped staging pair
    (the s_web_order / s_web_order_lineitem analog the reference's
    wsv_view consumes, TPCDSRefreshSchema.scala:688-700): an order
    header with order-level attributes MIN-collapsed and keys rendered
    as business ids / calendar dates, and a lineitem file keeping the
    per-sale measures. Item stays a surrogate key (the generated
    i_item_id is SCD-non-unique, same convention as the catalog pair);
    wlin_ship_cost carries the already-extended ws_ext_ship_cost
    (the generator has no per-unit ship cost to stage)."""
    delta = stage_delta(spark, sf_dir, "web_sales", round_no)
    hdr = delta.groupBy("ws_order_number").agg(
        F.min("ws_sold_date_sk").alias("_date_sk"),
        F.min("ws_sold_time_sk").alias("word_order_time"),
        F.min("ws_bill_customer_sk").alias("_bill_sk"),
        F.min("ws_ship_customer_sk").alias("_ship_sk"),
        F.min("ws_web_site_sk").alias("_site_sk"),
        F.min("ws_ship_mode_sk").alias("_sm_sk"),
    ).select(
        F.col("ws_order_number").alias("word_order_id"),
        _sk_to_date("_date_sk").alias("word_order_date"),
        "word_order_time",
        _sk_to_id("_bill_sk", "CUST", 10).alias("word_bill_customer_id"),
        _sk_to_id("_ship_sk", "CUST", 10).alias("word_ship_customer_id"),
        _sk_to_id("_site_sk", "SITE", 4).alias("word_web_site_id"),
        _sk_to_id("_sm_sk", "SHIP", 4).alias("word_ship_mode_id"),
    )
    lin = delta.select(
        F.col("ws_order_number").alias("wlin_order_id"),
        F.col("ws_item_sk").cast("int").alias("wlin_item_sk"),
        F.col("ws_quantity").alias("wlin_quantity"),
        F.col("ws_sales_price").alias("wlin_sales_price"),
        F.col("ws_coupon_amt").alias("wlin_coupon_amt"),
        F.col("ws_ext_ship_cost").alias("wlin_ship_cost"),
        _sk_to_date("ws_ship_date_sk").alias("wlin_ship_date"),
        _sk_to_id("ws_web_page_sk", "PAGE", 4).alias("wlin_web_page_id"),
        F.col("ws_warehouse_sk").alias("wlin_warehouse_sk"),
        _sk_to_id("ws_promo_sk", "PROMO", 6).alias("wlin_promotion_id"),
    )
    return hdr, lin


def wsv_dense_view(
    hdr: DataFrame,
    lin: DataFrame,
    date_dim: DataFrame,
    time_dim: DataFrame,
    customer: DataFrame,
    web_site: DataFrame,
    ship_mode: DataFrame,
    web_page: DataFrame,
    warehouse: DataFrame,
    item: DataFrame,
    promotion: DataFrame,
) -> DataFrame:
    """The reference wsv_view shape (TPCDSRefreshSchema.scala:657-700):
    lineitem ⋈ order header, then every surrogate key re-resolved
    through its dimension — business-id equality for the two customer
    roles, web_site, ship_mode, web_page and promotion; calendar-date
    equality for the two date roles; raw seconds for time_dim; surrogate
    keys for item/warehouse (see stage_web_pair) — with the money
    columns derived from item prices × staged quantity exactly as the
    reference computes them (:671-686). No join hints — the staged
    delta is the small side and AQE sizes every dim."""
    d1, d2 = date_dim.alias("d1"), date_dim.alias("d2")
    c1, c2 = customer.alias("c1"), customer.alias("c2")
    qty = F.col("wlin_quantity")
    ext_sales = F.col("wlin_sales_price") * qty
    net_paid = ext_sales - F.col("wlin_coupon_amt")
    return (
        lin.join(hdr, F.col("wlin_order_id") == F.col("word_order_id"))
        .join(d1, F.col("word_order_date") == F.col("d1.d_date"), "left")
        .join(time_dim, F.col("word_order_time") == F.col("t_time"), "left")
        .join(c1, F.col("word_bill_customer_id") == F.col("c1.c_customer_id"), "left")
        .join(c2, F.col("word_ship_customer_id") == F.col("c2.c_customer_id"), "left")
        .join(web_site, F.col("word_web_site_id") == F.col("web_site_id"), "left")
        .join(ship_mode, F.col("word_ship_mode_id") == F.col("sm_ship_mode_id"), "left")
        .join(d2, F.col("wlin_ship_date") == F.col("d2.d_date"), "left")
        .join(web_page, F.col("wlin_web_page_id") == F.col("wp_web_page_id"), "left")
        .join(warehouse, F.col("wlin_warehouse_sk") == F.col("w_warehouse_sk"), "left")
        .join(item, F.col("wlin_item_sk") == F.col("i_item_sk"), "left")
        .join(promotion, F.col("wlin_promotion_id") == F.col("p_promo_id"), "left")
        .select(
            F.col("d1.d_date_sk").alias("ws_sold_date_sk"),
            F.col("d1.d_year").alias("sold_year"),
            F.col("t_time_sk").alias("ws_sold_time_sk"),
            F.col("d2.d_date_sk").alias("ws_ship_date_sk"),
            F.col("c1.c_customer_sk").alias("ws_bill_customer_sk"),
            F.col("c1.c_current_addr_sk").alias("ws_bill_addr_sk"),
            F.col("c2.c_customer_sk").alias("ws_ship_customer_sk"),
            F.col("web_site_sk").alias("ws_web_site_sk"),
            F.col("web_name").alias("web_site_name"),
            F.col("wp_web_page_sk").alias("ws_web_page_sk"),
            F.col("sm_ship_mode_sk").alias("ws_ship_mode_sk"),
            F.col("w_warehouse_sk").alias("ws_warehouse_sk"),
            F.col("i_item_sk").alias("ws_item_sk"),
            F.col("p_promo_sk").alias("ws_promo_sk"),
            F.col("wlin_order_id").alias("ws_order_number"),
            qty.alias("ws_quantity"),
            F.col("i_wholesale_cost").alias("ws_wholesale_cost"),
            F.col("i_current_price").alias("ws_list_price"),
            ((F.col("i_current_price") - F.col("wlin_sales_price")) * qty).alias("ws_ext_discount_amt"),
            ext_sales.alias("ws_ext_sales_price"),
            (F.col("i_wholesale_cost") * qty).alias("ws_ext_wholesale_cost"),
            (F.col("i_current_price") * qty).alias("ws_ext_list_price"),
            F.col("wlin_ship_cost").alias("ws_ext_ship_cost"),
            net_paid.alias("ws_net_paid"),
            (net_paid + F.col("wlin_ship_cost")).alias("ws_net_paid_inc_ship"),
            (net_paid - F.col("i_wholesale_cost") * qty).alias("ws_net_profit"),
        )
    )


def stage_store_pair(
    spark: SparkSession, sf_dir: str, round_no: int
) -> tuple[DataFrame, DataFrame]:
    """One round's store delta split into the dsdgen-shaped staging
    pair (the s_purchase / s_purchase_lineitem analog the reference's
    ssv_view consumes, TPCDSRefreshSchema.scala:595-613): a purchase
    header (ticket-level attributes MIN-collapsed, store and customer
    rendered as business ids, the date as a calendar date) and a
    lineitem file with the per-sale measures. Item stays a surrogate
    key (SCD-non-unique id, same convention as the other pairs)."""
    delta = stage_delta(spark, sf_dir, "store_sales", round_no)
    hdr = delta.groupBy("ss_ticket_number").agg(
        F.min("ss_sold_date_sk").alias("_date_sk"),
        F.min("ss_sold_time_sk").alias("purc_purchase_time"),
        F.min("ss_customer_sk").alias("_cust_sk"),
        F.min("ss_store_sk").alias("_store_sk"),
    ).select(
        F.col("ss_ticket_number").alias("purc_purchase_id"),
        _sk_to_date("_date_sk").alias("purc_purchase_date"),
        "purc_purchase_time",
        _sk_to_id("_cust_sk", "CUST", 10).alias("purc_customer_id"),
        _sk_to_id("_store_sk", "STORE", 4).alias("purc_store_id"),
    )
    lin = delta.select(
        F.col("ss_ticket_number").alias("plin_purchase_id"),
        F.col("ss_item_sk").cast("int").alias("plin_item_sk"),
        F.col("ss_quantity").alias("plin_quantity"),
        F.col("ss_sales_price").alias("plin_sale_price"),
        F.col("ss_coupon_amt").alias("plin_coupon_amt"),
        _sk_to_id("ss_promo_sk", "PROMO", 6).alias("plin_promotion_id"),
    )
    return hdr, lin


def ssv_dense_view(
    hdr: DataFrame,
    lin: DataFrame,
    date_dim: DataFrame,
    time_dim: DataFrame,
    customer: DataFrame,
    store: DataFrame,
    item: DataFrame,
    promotion: DataFrame,
) -> DataFrame:
    """The reference ssv_view shape (TPCDSRefreshSchema.scala:579-613):
    lineitem ⋈ purchase header, customer and store resolved by
    business id, the purchase date by calendar-date equality, the
    purchase time by raw seconds, promotion by business id, item by
    surrogate key — with the money columns derived from item prices ×
    staged quantity as the reference computes them (:586-594; the
    s_tax_precentage-derived columns are omitted: the generated store
    dim carries no tax rate). No join hints — AQE sizes every dim."""
    qty = F.col("plin_quantity")
    ext_sales = F.col("plin_sale_price") * qty
    net_paid = ext_sales - F.col("plin_coupon_amt")
    return (
        lin.join(hdr, F.col("plin_purchase_id") == F.col("purc_purchase_id"))
        .join(date_dim, F.col("purc_purchase_date") == F.col("d_date"), "left")
        .join(time_dim, F.col("purc_purchase_time") == F.col("t_time"), "left")
        .join(customer, F.col("purc_customer_id") == F.col("c_customer_id"), "left")
        .join(store, F.col("purc_store_id") == F.col("s_store_id"), "left")
        .join(item, F.col("plin_item_sk") == F.col("i_item_sk"), "left")
        .join(promotion, F.col("plin_promotion_id") == F.col("p_promo_id"), "left")
        .select(
            F.col("d_date_sk").alias("ss_sold_date_sk"),
            F.col("d_year").alias("sold_year"),
            F.col("t_time_sk").alias("ss_sold_time_sk"),
            F.col("c_customer_sk").alias("ss_customer_sk"),
            F.col("c_current_cdemo_sk").alias("ss_cdemo_sk"),
            F.col("c_current_addr_sk").alias("ss_addr_sk"),
            F.col("s_store_sk").alias("ss_store_sk"),
            F.col("s_store_name").alias("store_name"),
            F.col("p_promo_sk").alias("ss_promo_sk"),
            F.col("i_item_sk").alias("ss_item_sk"),
            F.col("plin_purchase_id").alias("ss_ticket_number"),
            qty.alias("ss_quantity"),
            F.col("i_wholesale_cost").alias("ss_wholesale_cost"),
            F.col("i_current_price").alias("ss_list_price"),
            ((F.col("i_current_price") - F.col("plin_sale_price")) * qty).alias("ss_ext_discount_amt"),
            ext_sales.alias("ss_ext_sales_price"),
            (F.col("i_wholesale_cost") * qty).alias("ss_ext_wholesale_cost"),
            (F.col("i_current_price") * qty).alias("ss_ext_list_price"),
            net_paid.alias("ss_net_paid"),
            (net_paid - F.col("i_wholesale_cost") * qty).alias("ss_net_profit"),
        )
    )


def stage_returns_flat(
    spark: SparkSession, sf_dir: str, round_no: int
) -> DataFrame:
    """One round's store-returns delta as the dsdgen-shaped
    s_store_returns flat file (TPCDSRefreshSchema.scala srv_view
    inputs): business ids for customer/store/reason, the return date
    as a calendar date, and — the reference's signature quirk — the
    return time as an HH:MM:SS STRING the view must decode back to
    seconds to join time_dim (:640-643). The generated fact carries no
    time column, so the staged time derives deterministically from the
    return's own keys (same expression in the oracle)."""
    delta = stage_delta(spark, sf_dir, "store_returns", round_no)
    sec = (F.col("sr_ticket_number") * 7919 + F.col("sr_item_sk") * 131) % 86400
    hhmmss = _hhmmss(sec)
    return delta.select(
        F.col("sr_ticket_number").alias("sret_ticket_number"),
        _sk_to_date("sr_returned_date_sk").alias("sret_return_date"),
        hhmmss.alias("sret_return_time"),
        F.col("sr_item_sk").cast("int").alias("sret_item_sk"),
        _sk_to_id("sr_customer_sk", "CUST", 10).alias("sret_customer_id"),
        _sk_to_id("sr_store_sk", "STORE", 4).alias("sret_store_id"),
        _sk_to_id("sr_reason_sk", "REASON", 4).alias("sret_reason_id"),
        F.col("sr_return_quantity").alias("sret_return_qty"),
        F.col("sr_return_amt").alias("sret_return_amt"),
        F.col("sr_net_loss").alias("sret_net_loss"),
    )


def srv_dense_view(
    flat: DataFrame,
    date_dim: DataFrame,
    time_dim: DataFrame,
    customer: DataFrame,
    store: DataFrame,
    item: DataFrame,
    reason: DataFrame,
) -> DataFrame:
    """The reference srv_view shape (TPCDSRefreshSchema.scala:617-649):
    the flat staging file resolved through six dimensions — calendar
    date, the HH:MM:SS→seconds substr decode against time_dim (:640-643
    verbatim semantics), item by surrogate key (SCD-non-unique id),
    customer/store/reason by business id. No join hints — AQE sizes
    every dim."""
    t_expr = _decode_hhmmss("sret_return_time")
    return (
        flat.join(date_dim, F.col("sret_return_date") == F.col("d_date"), "left")
        .join(time_dim, t_expr == F.col("t_time"), "left")
        .join(item, F.col("sret_item_sk") == F.col("i_item_sk"), "left")
        .join(customer, F.col("sret_customer_id") == F.col("c_customer_id"), "left")
        .join(store, F.col("sret_store_id") == F.col("s_store_id"), "left")
        .join(reason, F.col("sret_reason_id") == F.col("r_reason_id"), "left")
        .select(
            F.col("d_date_sk").alias("sr_returned_date_sk"),
            F.col("d_year").alias("return_year"),
            F.col("t_time_sk").alias("sr_return_time_sk"),
            F.col("i_item_sk").alias("sr_item_sk"),
            F.col("c_customer_sk").alias("sr_customer_sk"),
            F.col("c_current_cdemo_sk").alias("sr_cdemo_sk"),
            F.col("c_current_addr_sk").alias("sr_addr_sk"),
            F.col("s_store_sk").alias("sr_store_sk"),
            F.col("s_state").alias("store_state"),
            F.col("r_reason_sk").alias("sr_reason_sk"),
            F.col("r_reason_desc").alias("reason_desc"),
            F.col("sret_ticket_number").alias("sr_ticket_number"),
            F.col("sret_return_qty").alias("sr_return_quantity"),
            F.col("sret_return_amt").alias("sr_return_amt"),
            F.col("sret_net_loss").alias("sr_net_loss"),
        )
    )


def _hhmmss(sec) -> F.Column:
    """Render a seconds-of-day column as the HH:MM:SS string dsdgen
    stages return times as (decoded back by the dense return views)."""
    return F.concat_ws(
        ":",
        F.lpad(F.floor(sec / 3600).cast("string"), 2, "0"),
        F.lpad(F.floor(sec % 3600 / 60).cast("string"), 2, "0"),
        F.lpad((sec % 60).cast("string"), 2, "0"),
    )


def _decode_hhmmss(col: str) -> F.Column:
    """The reference's substr time decode (TPCDSRefreshSchema.scala
    :640-643), HH:MM:SS string → seconds-of-day."""
    return (
        F.substring(col, 1, 2).cast("int") * 3600
        + F.substring(col, 4, 2).cast("int") * 60
        + F.substring(col, 7, 2).cast("int")
    )


def stage_web_returns_flat(
    spark: SparkSession, sf_dir: str, round_no: int
) -> DataFrame:
    """One round's web-returns delta as the dsdgen-shaped s_web_returns
    flat file (wrv_view inputs, TPCDSRefreshSchema.scala:702-735):
    business ids for the returning customer / reason / web page, the
    return date as a calendar date, the return time as an HH:MM:SS
    string (derived from the return's own keys — the generated fact has
    no time column; same expression in the oracle)."""
    delta = stage_delta(spark, sf_dir, "web_returns", round_no)
    sec = (F.col("wr_order_number") * 7919 + F.col("wr_item_sk") * 131) % 86400
    return delta.select(
        F.col("wr_order_number").alias("wret_order_id"),
        _sk_to_date("wr_returned_date_sk").alias("wret_return_date"),
        _hhmmss(sec).alias("wret_return_time"),
        F.col("wr_item_sk").cast("int").alias("wret_item_sk"),
        _sk_to_id("wr_returning_customer_sk", "CUST", 10).alias(
            "wret_return_customer_id"
        ),
        _sk_to_id("wr_reason_sk", "REASON", 4).alias("wret_reason_id"),
        _sk_to_id("wr_web_page_sk", "PAGE", 4).alias("wret_web_page_id"),
        F.col("wr_return_quantity").alias("wret_return_qty"),
        F.col("wr_return_amt").alias("wret_return_amt"),
        F.col("wr_fee").alias("wret_return_fee"),
        F.col("wr_refunded_cash").alias("wret_refunded_cash"),
        F.col("wr_net_loss").alias("wret_net_loss"),
    )


def wrv_dense_view(
    flat: DataFrame,
    date_dim: DataFrame,
    time_dim: DataFrame,
    customer: DataFrame,
    item: DataFrame,
    reason: DataFrame,
    web_page: DataFrame,
) -> DataFrame:
    """The reference wrv_view shape (TPCDSRefreshSchema.scala:702-735):
    the flat staging file resolved through six dimensions — calendar
    date, the HH:MM:SS substr decode against time_dim, item by
    surrogate key, returning customer / reason / web page by business
    id. (The generated web_returns carries one customer role; the
    refunded-side demo/addr keys stay raw fact FKs.)"""
    return (
        flat.join(date_dim, F.col("wret_return_date") == F.col("d_date"), "left")
        .join(time_dim, _decode_hhmmss("wret_return_time") == F.col("t_time"), "left")
        .join(item, F.col("wret_item_sk") == F.col("i_item_sk"), "left")
        .join(customer, F.col("wret_return_customer_id") == F.col("c_customer_id"), "left")
        .join(reason, F.col("wret_reason_id") == F.col("r_reason_id"), "left")
        .join(web_page, F.col("wret_web_page_id") == F.col("wp_web_page_id"), "left")
        .select(
            F.col("d_date_sk").alias("wr_returned_date_sk"),
            F.col("d_year").alias("return_year"),
            F.col("t_time_sk").alias("wr_returned_time_sk"),
            F.col("i_item_sk").alias("wr_item_sk"),
            F.col("i_category").alias("item_category"),
            F.col("c_customer_sk").alias("wr_returning_customer_sk"),
            F.col("c_current_cdemo_sk").alias("wr_returning_cdemo_sk"),
            F.col("c_current_addr_sk").alias("wr_returning_addr_sk"),
            F.col("r_reason_sk").alias("wr_reason_sk"),
            F.col("r_reason_desc").alias("reason_desc"),
            F.col("wp_web_page_sk").alias("wr_web_page_sk"),
            F.col("wret_order_id").alias("wr_order_number"),
            F.col("wret_return_qty").alias("wr_return_quantity"),
            F.col("wret_return_amt").alias("wr_return_amt"),
            F.col("wret_return_fee").alias("wr_fee"),
            F.col("wret_refunded_cash").alias("wr_refunded_cash"),
            F.col("wret_net_loss").alias("wr_net_loss"),
        )
    )


def stage_catalog_returns_flat(
    spark: SparkSession, sf_dir: str, round_no: int
) -> DataFrame:
    """One round's catalog-returns delta as the dsdgen-shaped
    s_catalog_returns flat file (crv_view inputs,
    TPCDSRefreshSchema.scala:790-834): business ids for the returning
    customer / call center / catalog page, calendar return date,
    HH:MM:SS return time (derived; same expression in the oracle).
    The generated fact has no reason/ship-mode/warehouse FKs, so the
    chain resolves the six dimensions it carries."""
    delta = stage_delta(spark, sf_dir, "catalog_returns", round_no)
    sec = (F.col("cr_order_number") * 7919 + F.col("cr_item_sk") * 131) % 86400
    return delta.select(
        F.col("cr_order_number").alias("cret_order_id"),
        _sk_to_date("cr_returned_date_sk").alias("cret_return_date"),
        _hhmmss(sec).alias("cret_return_time"),
        F.col("cr_item_sk").cast("int").alias("cret_item_sk"),
        _sk_to_id("cr_returning_customer_sk", "CUST", 10).alias(
            "cret_return_customer_id"
        ),
        _sk_to_id("cr_call_center_sk", "CC", 4).alias("cret_call_center_id"),
        _sk_to_id("cr_catalog_page_sk", "PAGE", 6).alias(
            "cret_catalog_page_id"
        ),
        F.col("cr_return_quantity").alias("cret_return_qty"),
        F.col("cr_return_amount").alias("cret_return_amt"),
        F.col("cr_refunded_cash").alias("cret_refunded_cash"),
        F.col("cr_reversed_charge").alias("cret_reversed_charge"),
        F.col("cr_store_credit").alias("cret_merchant_credit"),
        F.col("cr_net_loss").alias("cret_net_loss"),
    )


def crv_dense_view(
    flat: DataFrame,
    date_dim: DataFrame,
    time_dim: DataFrame,
    customer: DataFrame,
    item: DataFrame,
    call_center: DataFrame,
    catalog_page: DataFrame,
) -> DataFrame:
    """The reference crv_view shape (TPCDSRefreshSchema.scala:790-834):
    the flat staging file resolved through six dimensions — calendar
    date, the HH:MM:SS substr decode against time_dim, item by
    surrogate key, returning customer / call center / catalog page by
    business id."""
    return (
        flat.join(date_dim, F.col("cret_return_date") == F.col("d_date"), "left")
        .join(time_dim, _decode_hhmmss("cret_return_time") == F.col("t_time"), "left")
        .join(item, F.col("cret_item_sk") == F.col("i_item_sk"), "left")
        .join(customer, F.col("cret_return_customer_id") == F.col("c_customer_id"), "left")
        .join(call_center, F.col("cret_call_center_id") == F.col("cc_call_center_id"), "left")
        .join(catalog_page, F.col("cret_catalog_page_id") == F.col("cp_catalog_page_id"), "left")
        .select(
            F.col("d_date_sk").alias("cr_returned_date_sk"),
            F.col("d_year").alias("return_year"),
            F.col("t_time_sk").alias("cr_returned_time_sk"),
            F.col("i_item_sk").alias("cr_item_sk"),
            F.col("c_customer_sk").alias("cr_returning_customer_sk"),
            F.col("c_current_addr_sk").alias("cr_returning_addr_sk"),
            F.col("cc_call_center_sk").alias("cr_call_center_sk"),
            F.col("cc_name").alias("call_center_name"),
            F.col("cp_catalog_page_sk").alias("cr_catalog_page_sk"),
            F.col("cret_order_id").alias("cr_order_number"),
            F.col("cret_return_qty").alias("cr_return_quantity"),
            F.col("cret_return_amt").alias("cr_return_amount"),
            (
                F.col("cret_return_amt")
                - F.col("cret_refunded_cash")
                - F.col("cret_reversed_charge")
                - F.col("cret_merchant_credit")
            ).alias("cr_residual_amount"),
            F.col("cret_net_loss").alias("cr_net_loss"),
        )
    )


def stage_inventory_flat(
    spark: SparkSession, sf_dir: str, round_no: int
) -> DataFrame:
    """One round's inventory delta as the dsdgen-shaped s_inventory
    flat file (iv_view inputs, TPCDSRefreshSchema.scala:836-844): the
    snapshot date as a calendar DATE and the warehouse as a resolvable
    business string. The generated warehouse dim carries no
    w_warehouse_id, so the unique w_warehouse_name ('Warehouse N')
    plays the business-key role; item stays a surrogate key
    (SCD-non-unique id, same convention as every other pair)."""
    delta = stage_delta(spark, sf_dir, "inventory", round_no)
    return delta.select(
        _sk_to_date("inv_date_sk").alias("invn_date"),
        F.col("inv_item_sk").alias("invn_item_sk"),
        F.concat(F.lit("Warehouse "), F.col("inv_warehouse_sk").cast("string"))
            .alias("invn_warehouse_name"),
        F.col("inv_quantity_on_hand").alias("invn_qty_on_hand"),
    )


def iv_dense_view(
    flat: DataFrame,
    date_dim: DataFrame,
    item: DataFrame,
    warehouse: DataFrame,
) -> DataFrame:
    """The reference iv_view shape (TPCDSRefreshSchema.scala:836-844):
    the flat staging file resolved through warehouse (business string),
    item (surrogate key) and date_dim (calendar-date equality)."""
    return (
        flat.join(
            warehouse,
            F.col("invn_warehouse_name") == F.col("w_warehouse_name"),
            "left",
        )
        .join(item, F.col("invn_item_sk") == F.col("i_item_sk"), "left")
        .join(date_dim, F.col("d_date") == F.col("invn_date"), "left")
        .select(
            F.col("d_date_sk").alias("inv_date_sk"),
            F.col("d_year").alias("snapshot_year"),
            F.col("i_item_sk").alias("inv_item_sk"),
            F.col("i_category").alias("item_category"),
            F.col("w_warehouse_sk").alias("inv_warehouse_sk"),
            F.col("w_state").alias("warehouse_state"),
            F.col("invn_qty_on_hand").alias("inv_quantity_on_hand"),
        )
    )


# A chain's staged files for one round: (path, schema written) per file.
Staged = list[tuple[str, StructType]]


def _fact_delta(fact: str) -> Callable[[SparkSession, str, int], DataFrame]:
    return lambda spark, sf_dir, round_no: stage_delta(spark, sf_dir, fact, round_no)


@dataclass(frozen=True)
class Chain:
    """One refresh chain: ``stage(spark, sf_dir, round)`` builds its
    staging frame(s), ``view(*staged, *dims)`` folds them through the
    named dims (in argument order), ``totals`` names what the runner's
    step sums — a decimal measure and its alias, then optionally a key
    column summed as bigint and its alias — and ``every_round`` says the
    runner refreshes the chain every round, not only in round 1."""

    stage: Callable[..., DataFrame | tuple[DataFrame, ...]]
    view: Callable[..., DataFrame]
    dims: tuple[str, ...]
    totals: tuple[str, ...]
    every_round: bool = False


# The seven reference-density chains, then the seven fact views, keyed by
# fact because their staged delta also feeds the fact's MERGE. Runner order.
CHAINS: dict[str, Chain] = {
    "csv_dense": Chain(
        stage_catalog_pair, csv_dense_view,
        ("date_dim", "time_dim", "customer", "call_center", "ship_mode", "catalog_page",
         "warehouse", "item", "promotion"),
        ("cs_ext_sales_price", "sales_sum", "cs_bill_customer_sk", "bill_sk_sum"),
        every_round=True,
    ),
    "wsv_dense": Chain(
        stage_web_pair, wsv_dense_view,
        ("date_dim", "time_dim", "customer", "web_site", "ship_mode", "web_page",
         "warehouse", "item", "promotion"),
        ("ws_ext_sales_price", "sales_sum", "ws_bill_customer_sk", "bill_sk_sum"),
    ),
    "ssv_dense": Chain(
        stage_store_pair, ssv_dense_view,
        ("date_dim", "time_dim", "customer", "store", "item", "promotion"),
        ("ss_ext_sales_price", "sales_sum", "ss_customer_sk", "cust_sk_sum"),
    ),
    "srv_dense": Chain(
        stage_returns_flat, srv_dense_view,
        ("date_dim", "time_dim", "customer", "store", "item", "reason"),
        ("sr_return_amt", "amt_sum", "sr_customer_sk", "cust_sk_sum"),
    ),
    "wrv_dense": Chain(
        stage_web_returns_flat, wrv_dense_view,
        ("date_dim", "time_dim", "customer", "item", "reason", "web_page"),
        ("wr_return_amt", "amt_sum", "wr_returning_customer_sk", "cust_sk_sum"),
    ),
    "crv_dense": Chain(
        stage_catalog_returns_flat, crv_dense_view,
        ("date_dim", "time_dim", "customer", "item", "call_center", "catalog_page"),
        ("cr_return_amount", "amt_sum", "cr_returning_customer_sk", "cust_sk_sum"),
    ),
    "iv_dense": Chain(
        stage_inventory_flat, iv_dense_view,
        ("date_dim", "item", "warehouse"),
        ("inv_quantity_on_hand", "qoh_sum", "inv_item_sk", "item_sk_sum"),
    ),
    "store_sales": Chain(
        _fact_delta("store_sales"), ssv_view,
        ("date_dim", "store", "item", "customer", "customer_address"),
        ("ext_sales", "measure_sum"), every_round=True,
    ),
    "web_sales": Chain(
        _fact_delta("web_sales"), wsv_view,
        ("date_dim", "item", "customer", "customer_address"),
        ("ext_sales", "measure_sum"), every_round=True,
    ),
    "catalog_sales": Chain(
        _fact_delta("catalog_sales"), csv_view,
        ("date_dim", "item", "customer_demographics", "promotion"),
        ("ext_sales", "measure_sum"), every_round=True,
    ),
    "store_returns": Chain(
        _fact_delta("store_returns"), srv_view,
        ("date_dim", "store", "item", "reason"),
        ("ret_amt", "measure_sum"), every_round=True,
    ),
    "web_returns": Chain(
        _fact_delta("web_returns"), wrv_view,
        ("date_dim", "item", "customer", "customer_address"),
        ("ret_amt", "measure_sum"), every_round=True,
    ),
    "catalog_returns": Chain(
        _fact_delta("catalog_returns"), crv_view,
        ("date_dim", "item", "customer"),
        ("ret_amt", "measure_sum"), every_round=True,
    ),
    "inventory": Chain(
        _fact_delta("inventory"), iv_view,
        ("date_dim", "item", "warehouse"),
        ("qoh", "measure_sum"), every_round=True,
    ),
}


def stage_chain(
    spark: SparkSession, sf_dir: str, name: str, round_no: int, work: str
) -> Staged:
    """Write one round of chain ``name``'s staging files under ``work``
    (outside any timed window in the runner)."""
    frames = CHAINS[name].stage(spark, sf_dir, round_no)
    if isinstance(frames, DataFrame):
        frames = (frames,)
    paths = [f"{work}/{name}_{round_no}_{j}" for j in range(len(frames))]
    return [(p, write_staging_csv(df, p)) for p, df in zip(paths, frames)]


def chain_view(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    staged: Staged,
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Chain ``name``'s refresh view over its staged files; each dim comes
    from ``dims`` when given there, else is read here."""
    dims = dims or {}
    chain = CHAINS[name]
    return chain.view(
        *(read_staging_csv(spark, path, schema) for path, schema in staged),
        *(dims[d] if d in dims else _dim(spark, sf_dir, d) for d in chain.dims),
    )


def merge_staged(spark: SparkSession, t: ManagedTable, fact: str, staged: Staged) -> dict:
    """MERGE a fact's staged delta into its managed table on the
    surrogate key (derived after the staged read, like dsdgen's)."""
    delta = read_staging_csv(spark, *staged[0])
    keyed = delta.select(_key_col(fact), *delta.columns).select(*t.read().columns)
    return t.merge(keyed, on=[f"{FACTS[fact]['prefix']}_key"], validate_unique=False)


def _totals(chain: Chain) -> list[F.Column]:
    measure, alias, *key = chain.totals
    cols = [F.count(F.lit(1)).alias("cnt"), dsum(measure).alias(alias)]
    if key:
        cols.append(F.sum(key[0]).cast("bigint").alias(key[1]))
    return cols


@dataclass
class MultiRefreshConfig:
    rounds: int = 10


def run(
    spark: SparkSession, sf_dir: str, cfg: MultiRefreshConfig | None = None
) -> BenchmarkReport:
    """Base-load the seven managed fact tables, then per round: stage
    each chain's CSV files, time its refresh view and MERGE each fact
    delta — the reference's refresh loop at full seven-fact breadth
    (IncrementalTPCDSBenchmark.scala:259-283). csv_dense and the seven
    fact views refresh every round, the other dense chains in round 1."""
    cfg = cfg or MultiRefreshConfig()
    runner = BenchmarkRunner(spark)
    report = BenchmarkReport(
        benchmark_id="refresh-tpcds",
        specs={"rounds": str(cfg.rounds), "facts": str(len(FACTS))},
    )
    work = tempfile.mkdtemp(prefix="lhbench_mrefresh_")

    tables: dict[str, ManagedTable] = {}
    for fact, meta in FACTS.items():
        base = fact_with_key(spark, sf_dir, fact)
        key = f"{meta['prefix']}_key"
        res = runner.run_query(
            f"load-{fact}",
            lambda b=base, f=fact, k=key: ManagedTable.create(
                spark, f"{work}/{f}", b, cluster_by=(k,), num_files=8
            ).detail(),
        )
        if res.error_msg:
            raise RuntimeError(f"refresh_tpcds: load {fact} failed: {res.error_msg}")
        tables[fact] = ManagedTable(spark, f"{work}/{fact}")

    # Dims the every-round chains join are read once, outside the timed
    # windows; a dim only a round-1 chain joins is read in that step.
    shared = {d for c in CHAINS.values() if c.every_round for d in c.dims}
    dims = {d: _dim(spark, sf_dir, d) for d in shared}

    def merge_step(fact: str, staged: Staged) -> DataFrame:
        m = merge_staged(spark, tables[fact], fact, staged)
        return spark.createDataFrame([tuple(m.values())], list(m.keys()))

    for i in range(1, cfg.rounds + 1):
        for name, chain in CHAINS.items():
            if i > 1 and not chain.every_round:
                continue
            staged = stage_chain(spark, sf_dir, name, i, f"{work}/stage")
            runner.run_query(
                f"view-{name}-{i}",
                lambda n=name, s=staged: chain_view(spark, sf_dir, n, s, dims).agg(
                    *_totals(CHAINS[n])
                ),
            )
            if name in tables:
                runner.run_query(
                    f"merge-{name}-{i}", lambda n=name, s=staged: merge_step(n, s)
                )

    for fact in FACTS:
        runner.run_query(
            f"compact-{fact}",
            lambda f=fact: (
                tables[f].optimize(target_file_rows=2_000_000),
                tables[f].detail(),
            )[1],
        )

    report.query_results = runner.results
    for name, sec in runner.medians().items():
        report.report_extra_metric(f"{name}-seconds", sec)
    return report


if __name__ == "__main__":
    import os

    from lhbench_spark.session import get_spark

    rep = run(
        get_spark("refresh-tpcds"),
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    print(rep.to_json())
