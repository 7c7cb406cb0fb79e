"""Gate queries for the multi-fact TPC-DS refresh pipeline
(workloads/refresh_tpcds.py): each fact's CSV-staged delta folded
through its join-dense refresh view, plus the post-MERGE table state —
all oracle-paired against the dual-dialect generated tables.

Reference: TPCDSRefreshSchema.scala:566-845 (the per-fact refresh
views), IncrementalTPCDSBenchmark.scala:259-283 (the merge loop),
:430-440 (explicit-schema pipe CSV staging reads).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from lhbench_spark.queries.registry import query
from lhbench_spark.tables import ManagedTable
from lhbench_spark.tpcds_data import compose_oracle
from lhbench_spark.workloads import refresh_tpcds as rt


def _round_one(spark, sf_dir, chain):
    """Chain ``chain``'s round-1 staging files CSV round-tripped (written
    pipe-delimited headerless, read back with the schema written) and
    folded through its refresh view — any staging fidelity loss fails
    the oracle compare."""
    work = tempfile.mkdtemp(prefix="lhbench_chain_")
    return rt.chain_view(spark, sf_dir, chain, rt.stage_chain(spark, sf_dir, chain, 1, work))


_SSV_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT ss_sold_date_sk, ss_store_sk, ss_item_sk, ss_customer_sk,
         ss_quantity + 100 AS ss_quantity, ss_ext_sales_price, ss_net_profit
  FROM store_sales WHERE ss_ticket_number % 7 = 1
), rv AS (
  SELECT COALESCE(d.d_year, 0) AS sale_year,
         COALESCE(s.s_state, 'UNKNOWN') AS store_state,
         COALESCE(i.i_category, 'UNKNOWN') AS category,
         dl.ss_quantity AS quantity,
         dl.ss_ext_sales_price AS ext_sales,
         dl.ss_net_profit AS net_profit
  FROM delta dl
  LEFT JOIN date_dim d ON dl.ss_sold_date_sk = d.d_date_sk
  LEFT JOIN store s ON dl.ss_store_sk = s.s_store_sk
  LEFT JOIN item i ON dl.ss_item_sk = i.i_item_sk
)
SELECT sale_year, store_state, category, COUNT(*) AS cnt,
       CAST(SUM(quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ext_sales) AS DOUBLE) AS sales_sum,
       CAST(SUM(net_profit) AS DOUBLE) AS profit_sum
FROM rv GROUP BY sale_year, store_state, category
""")


@query(
    "tpcds_refresh_ssv_view",
    tags=("tpcds", "refresh", "csv", "staging"),
    oracle=_SSV_ORACLE,
)
def tpcds_refresh_ssv_view(spark, sf_dir):
    """store_sales refresh view over the CSV-staged delta (the ssv
    shape): delta → date_dim → store → item → customer → address chain,
    aggregated by year × store-state × category. NULL fact FKs surface
    as the UNKNOWN/0 buckets, checking outer-join semantics through the
    staging round-trip."""
    rv = _round_one(spark, sf_dir, "store_sales")
    return rv.groupBy("sale_year", "store_state", "category").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("quantity").cast("bigint").alias("qty_sum"),
        F.sum("ext_sales").cast("double").alias("sales_sum"),
        F.sum("net_profit").cast("double").alias("profit_sum"),
    )


_WSV_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT ws_sold_date_sk, ws_item_sk, ws_bill_customer_sk,
         ws_quantity + 100 AS ws_quantity, ws_ext_sales_price
  FROM web_sales WHERE ws_order_number % 7 = 1
), rv AS (
  SELECT COALESCE(d.d_year, 0) AS sale_year,
         COALESCE(i.i_category, 'UNKNOWN') AS category,
         COALESCE(ca.ca_state, 'UNKNOWN') AS cust_state,
         dl.ws_quantity AS quantity,
         dl.ws_ext_sales_price AS ext_sales
  FROM delta dl
  LEFT JOIN date_dim d ON dl.ws_sold_date_sk = d.d_date_sk
  LEFT JOIN item i ON dl.ws_item_sk = i.i_item_sk
  LEFT JOIN customer c ON dl.ws_bill_customer_sk = c.c_customer_sk
  LEFT JOIN customer_address ca ON c.c_current_addr_sk = ca.ca_address_sk
)
SELECT sale_year, category, cust_state, COUNT(*) AS cnt,
       CAST(SUM(quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ext_sales) AS DOUBLE) AS sales_sum
FROM rv GROUP BY sale_year, category, cust_state
""")


@query(
    "tpcds_refresh_wsv_view",
    tags=("tpcds", "refresh", "csv", "staging"),
    oracle=_WSV_ORACLE,
)
def tpcds_refresh_wsv_view(spark, sf_dir):
    """web_sales refresh view (the wsv shape): delta → date_dim → item →
    bill customer → current address, aggregated by year × category ×
    customer state."""
    rv = _round_one(spark, sf_dir, "web_sales")
    return rv.groupBy("sale_year", "category", "cust_state").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("quantity").cast("bigint").alias("qty_sum"),
        F.sum("ext_sales").cast("double").alias("sales_sum"),
    )


_CSV_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT cs_sold_date_sk, cs_item_sk, cs_bill_cdemo_sk,
         1 AS cs_promo_sk,
         cs_quantity + 100 AS cs_quantity, cs_ext_sales_price
  FROM catalog_sales WHERE cs_order_number % 7 = 1
), rv AS (
  SELECT COALESCE(d.d_year, 0) AS sale_year,
         COALESCE(i.i_category, 'UNKNOWN') AS category,
         COALESCE(cd.cd_education_status, 'UNKNOWN') AS education,
         COALESCE(p.p_channel_email, 'N') AS promo_email,
         dl.cs_quantity AS quantity,
         dl.cs_ext_sales_price AS ext_sales
  FROM delta dl
  LEFT JOIN date_dim d ON dl.cs_sold_date_sk = d.d_date_sk
  LEFT JOIN item i ON dl.cs_item_sk = i.i_item_sk
  LEFT JOIN customer_demographics cd ON dl.cs_bill_cdemo_sk = cd.cd_demo_sk
  LEFT JOIN promotion p ON dl.cs_promo_sk = p.p_promo_sk
)
SELECT sale_year, category, education, promo_email, COUNT(*) AS cnt,
       CAST(SUM(quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ext_sales) AS DOUBLE) AS sales_sum
FROM rv GROUP BY sale_year, category, education, promo_email
""")


@query(
    "tpcds_refresh_csv_view",
    tags=("tpcds", "refresh", "csv", "staging"),
    oracle=_CSV_ORACLE,
)
def tpcds_refresh_csv_view(spark, sf_dir):
    """catalog_sales refresh view (the crv/csv shape): delta → date_dim
    → item → bill demographics → promotion (the round re-points every
    delta row at promo 1, so promo_email reflects promotion #1)."""
    rv = _round_one(spark, sf_dir, "catalog_sales")
    return rv.groupBy("sale_year", "category", "education", "promo_email").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("quantity").cast("bigint").alias("qty_sum"),
        F.sum("ext_sales").cast("double").alias("sales_sum"),
    )


_SRV_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT sr_returned_date_sk, sr_store_sk, sr_item_sk, sr_reason_sk,
         sr_return_quantity + 100 AS sr_return_quantity,
         sr_return_amt, sr_net_loss
  FROM store_returns WHERE sr_ticket_number % 7 = 1
), rv AS (
  SELECT COALESCE(d.d_year, 0) AS sale_year,
         COALESCE(s.s_state, 'UNKNOWN') AS store_state,
         COALESCE(i.i_category, 'UNKNOWN') AS category,
         COALESCE(r.r_reason_desc, 'UNKNOWN') AS reason,
         dl.sr_return_quantity AS quantity,
         dl.sr_return_amt AS ret_amt,
         dl.sr_net_loss AS net_loss
  FROM delta dl
  LEFT JOIN date_dim d ON dl.sr_returned_date_sk = d.d_date_sk
  LEFT JOIN store s ON dl.sr_store_sk = s.s_store_sk
  LEFT JOIN item i ON dl.sr_item_sk = i.i_item_sk
  LEFT JOIN reason r ON dl.sr_reason_sk = r.r_reason_sk
)
SELECT sale_year, store_state, category, reason, COUNT(*) AS cnt,
       CAST(SUM(quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ret_amt) AS DOUBLE) AS ret_sum,
       CAST(SUM(net_loss) AS DOUBLE) AS loss_sum
FROM rv GROUP BY sale_year, store_state, category, reason
""")


@query(
    "tpcds_refresh_srv_view",
    tags=("tpcds", "refresh", "csv", "staging", "returns"),
    oracle=_SRV_ORACLE,
)
def tpcds_refresh_srv_view(spark, sf_dir):
    """store_returns refresh view (the srv shape): delta → date_dim →
    store → item → reason, aggregated by year × store-state × category ×
    return reason — the returns-family representative of the seven-fact
    refresh breadth."""
    rv = _round_one(spark, sf_dir, "store_returns")
    return rv.groupBy("sale_year", "store_state", "category", "reason").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("quantity").cast("bigint").alias("qty_sum"),
        F.sum("ret_amt").cast("double").alias("ret_sum"),
        F.sum("net_loss").cast("double").alias("loss_sum"),
    )


_IV_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT inv_date_sk, inv_item_sk, inv_warehouse_sk,
         inv_quantity_on_hand + 100 AS inv_quantity_on_hand
  FROM inventory WHERE inv_date_sk % 7 = 1
), rv AS (
  SELECT COALESCE(d.d_year, 0) AS inv_year,
         COALESCE(i.i_category, 'UNKNOWN') AS category,
         COALESCE(w.w_state, 'UNKNOWN') AS wh_state,
         dl.inv_quantity_on_hand AS qoh
  FROM delta dl
  LEFT JOIN date_dim d ON dl.inv_date_sk = d.d_date_sk
  LEFT JOIN item i ON dl.inv_item_sk = i.i_item_sk
  LEFT JOIN warehouse w ON dl.inv_warehouse_sk = w.w_warehouse_sk
)
SELECT inv_year, category, wh_state, COUNT(*) AS cnt,
       CAST(SUM(qoh) AS BIGINT) AS qoh_sum
FROM rv GROUP BY inv_year, category, wh_state
""")


@query(
    "tpcds_refresh_iv_view",
    tags=("tpcds", "refresh", "csv", "staging", "inventory"),
    oracle=_IV_ORACLE,
)
def tpcds_refresh_iv_view(spark, sf_dir):
    """inventory refresh view (the iv shape): delta → date_dim → item →
    warehouse, aggregated by year × category × warehouse state. The
    only fact with a 3-column natural key ((date, item, warehouse) —
    the surrogate fold covers it) and a non-money measure."""
    rv = _round_one(spark, sf_dir, "inventory")
    return rv.groupBy("inv_year", "category", "wh_state").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("qoh").cast("bigint").alias("qoh_sum"),
    )


_MERGED_ORACLE = compose_oracle("""
WITH merged AS (
  SELECT ss_ticket_number, ss_quantity + 100 AS ss_quantity,
         ss_ext_sales_price
  FROM store_sales WHERE ss_ticket_number % 7 = 1
  UNION ALL
  SELECT ss_ticket_number, ss_quantity, ss_ext_sales_price
  FROM store_sales WHERE NOT ss_ticket_number % 7 = 1
)
SELECT (ss_ticket_number % 7 = 1) AS refreshed, COUNT(*) AS cnt,
       CAST(SUM(ss_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ss_ext_sales_price) AS DOUBLE) AS sales_sum
FROM merged GROUP BY (ss_ticket_number % 7 = 1)
""")


@query(
    "tpcds_refresh_merged_state",
    tags=("tpcds", "refresh", "merge", "dml", "managed-table"),
    oracle=_MERGED_ORACLE,
)
def tpcds_refresh_merged_state(spark, sf_dir):
    """One full refresh round on the managed store_sales table: base
    load (key-clustered CoW), CSV-staged delta, MERGE on the surrogate
    key, then the table STATE aggregated by refreshed-slice — the oracle
    recomputes the upsert relationally, so merge bookkeeping is
    value-checked end-to-end (every delta key exists in the base, so the
    upsert reduces to slice replacement)."""
    base = rt.fact_with_key(spark, sf_dir, "store_sales")
    work = tempfile.mkdtemp(prefix="lhbench_mstate_")
    t = ManagedTable.create(spark, f"{work}/ss", base, cluster_by=("ss_key",), num_files=8)
    staged = rt.stage_chain(spark, sf_dir, "store_sales", 1, f"{work}/stage")
    rt.merge_staged(spark, t, "store_sales", staged)
    return (
        t.read()
        .withColumn("refreshed", (F.col("ss_ticket_number") % 7) == 1)
        .groupBy("refreshed")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("ss_quantity").cast("bigint").alias("qty_sum"),
            F.sum("ss_ext_sales_price").cast("double").alias("sales_sum"),
        )
    )


_CSV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT cs_order_number, cs_sold_date_sk, cs_sold_time_sk,
         cs_bill_customer_sk, cs_ship_customer_sk, cs_call_center_sk,
         cs_ship_mode_sk, cs_item_sk, cs_quantity + 100 AS cs_quantity,
         cs_sales_price, cs_coupon_amt, cs_ext_ship_cost, cs_ship_date_sk,
         cs_catalog_page_sk, 1 AS cs_promo_sk, cs_warehouse_sk
  FROM catalog_sales WHERE cs_order_number % 7 = 1
), hdr AS (
  SELECT cs_order_number AS cord_order_id,
         DATE '1998-01-01' + CAST(MIN(cs_sold_date_sk) - 2450815 AS INT)
           AS cord_order_date,
         MIN(cs_sold_time_sk) AS cord_order_time,
         'CUST' || lpad(CAST(MIN(cs_bill_customer_sk) AS STRING), 10, '0')
           AS cord_bill_customer_id,
         'CUST' || lpad(CAST(MIN(cs_ship_customer_sk) AS STRING), 10, '0')
           AS cord_ship_customer_id,
         'CC' || lpad(CAST(MIN(cs_call_center_sk) AS STRING), 4, '0')
           AS cord_call_center_id,
         'SHIP' || lpad(CAST(MIN(cs_ship_mode_sk) AS STRING), 4, '0')
           AS cord_ship_mode_id
  FROM delta GROUP BY cs_order_number
), lin AS (
  SELECT cs_order_number AS clin_order_id, cs_item_sk AS clin_item_sk,
         cs_quantity AS clin_quantity, cs_sales_price AS clin_sales_price,
         cs_coupon_amt AS clin_coupon_amt,
         DATE '1998-01-01' + CAST(cs_ship_date_sk - 2450815 AS INT)
           AS clin_ship_date,
         cp.cp_catalog_number AS clin_catalog_number,
         cp.cp_catalog_page_number AS clin_catalog_page_number,
         'PROMO' || lpad(CAST(cs_promo_sk AS STRING), 6, '0')
           AS clin_promotion_id,
         cs_warehouse_sk AS clin_warehouse_sk
  FROM delta LEFT JOIN catalog_page cp
    ON delta.cs_catalog_page_sk = cp.cp_catalog_page_sk
), cpd AS (
  SELECT cp_catalog_number, cp_catalog_page_number,
         MIN(cp_catalog_page_sk) AS cp_catalog_page_sk
  FROM catalog_page GROUP BY 1, 2
), rv AS (
  SELECT d1.d_year AS sold_year, cc.cc_name AS call_center_name,
         c1.c_customer_sk AS cs_bill_customer_sk,
         cpd.cp_catalog_page_sk AS cs_catalog_page_sk,
         t.t_time_sk AS cs_sold_time_sk,
         d2.d_date_sk AS cs_ship_date_sk,
         w.w_warehouse_sk AS cs_warehouse_sk,
         p.p_promo_sk AS cs_promo_sk,
         c2.c_customer_sk AS cs_ship_customer_sk,
         sm.sm_ship_mode_sk AS cs_ship_mode_sk,
         lin.clin_quantity AS cs_quantity,
         lin.clin_sales_price * lin.clin_quantity AS cs_ext_sales_price,
         i.i_current_price * lin.clin_quantity AS cs_ext_list_price,
         (lin.clin_sales_price * lin.clin_quantity) - lin.clin_coupon_amt
           - (i.i_wholesale_cost * lin.clin_quantity) AS cs_net_profit
  FROM lin
  JOIN hdr ON lin.clin_order_id = hdr.cord_order_id
  LEFT JOIN date_dim d1 ON hdr.cord_order_date = d1.d_date
  LEFT JOIN time_dim t ON hdr.cord_order_time = t.t_time
  LEFT JOIN customer c1 ON hdr.cord_bill_customer_id = c1.c_customer_id
  LEFT JOIN customer c2 ON hdr.cord_ship_customer_id = c2.c_customer_id
  LEFT JOIN call_center cc ON hdr.cord_call_center_id = cc.cc_call_center_id
  LEFT JOIN ship_mode sm ON hdr.cord_ship_mode_id = sm.sm_ship_mode_id
  LEFT JOIN date_dim d2 ON lin.clin_ship_date = d2.d_date
  LEFT JOIN cpd ON lin.clin_catalog_number = cpd.cp_catalog_number
               AND lin.clin_catalog_page_number = cpd.cp_catalog_page_number
  LEFT JOIN warehouse w ON lin.clin_warehouse_sk = w.w_warehouse_sk
  LEFT JOIN item i ON lin.clin_item_sk = i.i_item_sk
  LEFT JOIN promotion p ON lin.clin_promotion_id = p.p_promo_id
)
SELECT COALESCE(sold_year, 0) AS sold_year,
       COALESCE(call_center_name, 'UNKNOWN') AS call_center_name,
       COUNT(*) AS cnt,
       CAST(SUM(cs_bill_customer_sk) AS BIGINT) AS bill_sk_sum,
       CAST(SUM(cs_ship_customer_sk) AS BIGINT) AS ship_sk_sum,
       CAST(SUM(cs_catalog_page_sk) AS BIGINT) AS page_sk_sum,
       CAST(SUM(cs_sold_time_sk) AS BIGINT) AS time_sk_sum,
       CAST(SUM(cs_ship_date_sk) AS BIGINT) AS ship_date_sk_sum,
       CAST(SUM(cs_warehouse_sk) AS BIGINT) AS wh_sk_sum,
       CAST(SUM(cs_promo_sk) AS BIGINT) AS promo_sk_sum,
       CAST(SUM(cs_ship_mode_sk) AS BIGINT) AS sm_sk_sum,
       CAST(SUM(cs_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(cs_ext_sales_price) AS DOUBLE) AS sales_sum,
       CAST(SUM(cs_ext_list_price) AS DOUBLE) AS list_sum,
       CAST(SUM(cs_net_profit) AS DOUBLE) AS profit_sum
FROM rv GROUP BY 1, 2
""")


@query(
    "tpcds_refresh_csv_dense",
    tags=("tpcds", "refresh", "csv", "staging"),
    oracle=_CSV_DENSE_ORACLE,
)
def tpcds_refresh_csv_dense(spark, sf_dir):
    """The reference-density catalog refresh chain: the round-1 delta
    split into the dsdgen-shaped order-header/lineitem staging pair,
    CSV round-tripped (pipe, headerless, explicit schemas — business
    ids, calendar dates and decimals survive the flat file), then the
    12-join csv_view shape resolving every surrogate key through its
    dimension (TPCDSRefreshSchema.scala:737-788). The aggregate sums
    each RESOLVED key column, so a single mis-resolved id anywhere in
    the chain fails the value compare."""
    rv = _round_one(spark, sf_dir, "csv_dense")
    return rv.groupBy(
        F.coalesce("sold_year", F.lit(0)).alias("sold_year"),
        F.coalesce("call_center_name", F.lit("UNKNOWN")).alias("call_center_name"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("cs_bill_customer_sk").cast("bigint").alias("bill_sk_sum"),
        F.sum("cs_ship_customer_sk").cast("bigint").alias("ship_sk_sum"),
        F.sum("cs_catalog_page_sk").cast("bigint").alias("page_sk_sum"),
        F.sum("cs_sold_time_sk").cast("bigint").alias("time_sk_sum"),
        F.sum("cs_ship_date_sk").cast("bigint").alias("ship_date_sk_sum"),
        F.sum("cs_warehouse_sk").cast("bigint").alias("wh_sk_sum"),
        F.sum("cs_promo_sk").cast("bigint").alias("promo_sk_sum"),
        F.sum("cs_ship_mode_sk").cast("bigint").alias("sm_sk_sum"),
        F.sum("cs_quantity").cast("bigint").alias("qty_sum"),
        F.sum("cs_ext_sales_price").cast("double").alias("sales_sum"),
        F.sum("cs_ext_list_price").cast("double").alias("list_sum"),
        F.sum("cs_net_profit").cast("double").alias("profit_sum"),
    )


_WSV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT ws_order_number, ws_sold_date_sk, ws_sold_time_sk,
         ws_bill_customer_sk, ws_ship_customer_sk, ws_web_site_sk,
         ws_ship_mode_sk, ws_item_sk, ws_quantity + 100 AS ws_quantity,
         ws_sales_price, ws_coupon_amt, ws_ext_ship_cost, ws_ship_date_sk,
         ws_web_page_sk, 1 AS ws_promo_sk, ws_warehouse_sk
  FROM web_sales WHERE ws_order_number % 7 = 1
), hdr AS (
  SELECT ws_order_number AS word_order_id,
         DATE '1998-01-01' + CAST(MIN(ws_sold_date_sk) - 2450815 AS INT)
           AS word_order_date,
         MIN(ws_sold_time_sk) AS word_order_time,
         'CUST' || lpad(CAST(MIN(ws_bill_customer_sk) AS STRING), 10, '0')
           AS word_bill_customer_id,
         'CUST' || lpad(CAST(MIN(ws_ship_customer_sk) AS STRING), 10, '0')
           AS word_ship_customer_id,
         'SITE' || lpad(CAST(MIN(ws_web_site_sk) AS STRING), 4, '0')
           AS word_web_site_id,
         'SHIP' || lpad(CAST(MIN(ws_ship_mode_sk) AS STRING), 4, '0')
           AS word_ship_mode_id
  FROM delta GROUP BY ws_order_number
), lin AS (
  SELECT ws_order_number AS wlin_order_id, ws_item_sk AS wlin_item_sk,
         ws_quantity AS wlin_quantity, ws_sales_price AS wlin_sales_price,
         ws_coupon_amt AS wlin_coupon_amt,
         ws_ext_ship_cost AS wlin_ship_cost,
         DATE '1998-01-01' + CAST(ws_ship_date_sk - 2450815 AS INT)
           AS wlin_ship_date,
         'PAGE' || lpad(CAST(ws_web_page_sk AS STRING), 4, '0')
           AS wlin_web_page_id,
         ws_warehouse_sk AS wlin_warehouse_sk,
         'PROMO' || lpad(CAST(ws_promo_sk AS STRING), 6, '0')
           AS wlin_promotion_id
  FROM delta
), rv AS (
  SELECT d1.d_year AS sold_year, wst.web_name AS web_site_name,
         c1.c_customer_sk AS ws_bill_customer_sk,
         c2.c_customer_sk AS ws_ship_customer_sk,
         t.t_time_sk AS ws_sold_time_sk,
         d2.d_date_sk AS ws_ship_date_sk,
         wst.web_site_sk AS ws_web_site_sk,
         wp.wp_web_page_sk AS ws_web_page_sk,
         sm.sm_ship_mode_sk AS ws_ship_mode_sk,
         w.w_warehouse_sk AS ws_warehouse_sk,
         p.p_promo_sk AS ws_promo_sk,
         lin.wlin_quantity AS ws_quantity,
         lin.wlin_sales_price * lin.wlin_quantity AS ws_ext_sales_price,
         i.i_current_price * lin.wlin_quantity AS ws_ext_list_price,
         lin.wlin_ship_cost AS ws_ext_ship_cost,
         (lin.wlin_sales_price * lin.wlin_quantity) - lin.wlin_coupon_amt
           - (i.i_wholesale_cost * lin.wlin_quantity) AS ws_net_profit
  FROM lin
  JOIN hdr ON lin.wlin_order_id = hdr.word_order_id
  LEFT JOIN date_dim d1 ON hdr.word_order_date = d1.d_date
  LEFT JOIN time_dim t ON hdr.word_order_time = t.t_time
  LEFT JOIN customer c1 ON hdr.word_bill_customer_id = c1.c_customer_id
  LEFT JOIN customer c2 ON hdr.word_ship_customer_id = c2.c_customer_id
  LEFT JOIN web_site wst ON hdr.word_web_site_id = wst.web_site_id
  LEFT JOIN ship_mode sm ON hdr.word_ship_mode_id = sm.sm_ship_mode_id
  LEFT JOIN date_dim d2 ON lin.wlin_ship_date = d2.d_date
  LEFT JOIN web_page wp ON lin.wlin_web_page_id = wp.wp_web_page_id
  LEFT JOIN warehouse w ON lin.wlin_warehouse_sk = w.w_warehouse_sk
  LEFT JOIN item i ON lin.wlin_item_sk = i.i_item_sk
  LEFT JOIN promotion p ON lin.wlin_promotion_id = p.p_promo_id
)
SELECT COALESCE(sold_year, 0) AS sold_year,
       COALESCE(web_site_name, 'UNKNOWN') AS web_site_name,
       COUNT(*) AS cnt,
       CAST(SUM(ws_bill_customer_sk) AS BIGINT) AS bill_sk_sum,
       CAST(SUM(ws_ship_customer_sk) AS BIGINT) AS ship_sk_sum,
       CAST(SUM(ws_web_site_sk) AS BIGINT) AS site_sk_sum,
       CAST(SUM(ws_web_page_sk) AS BIGINT) AS page_sk_sum,
       CAST(SUM(ws_sold_time_sk) AS BIGINT) AS time_sk_sum,
       CAST(SUM(ws_ship_date_sk) AS BIGINT) AS ship_date_sk_sum,
       CAST(SUM(ws_warehouse_sk) AS BIGINT) AS wh_sk_sum,
       CAST(SUM(ws_promo_sk) AS BIGINT) AS promo_sk_sum,
       CAST(SUM(ws_ship_mode_sk) AS BIGINT) AS sm_sk_sum,
       CAST(SUM(ws_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ws_ext_sales_price) AS DOUBLE) AS sales_sum,
       CAST(SUM(ws_ext_list_price) AS DOUBLE) AS list_sum,
       CAST(SUM(ws_ext_ship_cost) AS DOUBLE) AS ship_cost_sum,
       CAST(SUM(ws_net_profit) AS DOUBLE) AS profit_sum
FROM rv GROUP BY 1, 2
""")


@query(
    "tpcds_refresh_wsv_dense",
    tags=("tpcds", "refresh", "wsv", "staging"),
    oracle=_WSV_DENSE_ORACLE,
)
def tpcds_refresh_wsv_dense(spark, sf_dir):
    """The reference-density web refresh chain: the round-1 delta split
    into the dsdgen-shaped order-header/lineitem staging pair, CSV
    round-tripped (pipe, headerless, explicit schemas), then the
    12-relation wsv_view shape resolving both customer roles, site,
    ship mode, page, warehouse, item, promotion and both date roles
    (TPCDSRefreshSchema.scala:657-700). The aggregate sums each
    RESOLVED key column, so a single mis-resolved id anywhere in the
    chain fails the value compare."""
    rv = _round_one(spark, sf_dir, "wsv_dense")
    return rv.groupBy(
        F.coalesce("sold_year", F.lit(0)).alias("sold_year"),
        F.coalesce("web_site_name", F.lit("UNKNOWN")).alias("web_site_name"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("ws_bill_customer_sk").cast("bigint").alias("bill_sk_sum"),
        F.sum("ws_ship_customer_sk").cast("bigint").alias("ship_sk_sum"),
        F.sum("ws_web_site_sk").cast("bigint").alias("site_sk_sum"),
        F.sum("ws_web_page_sk").cast("bigint").alias("page_sk_sum"),
        F.sum("ws_sold_time_sk").cast("bigint").alias("time_sk_sum"),
        F.sum("ws_ship_date_sk").cast("bigint").alias("ship_date_sk_sum"),
        F.sum("ws_warehouse_sk").cast("bigint").alias("wh_sk_sum"),
        F.sum("ws_promo_sk").cast("bigint").alias("promo_sk_sum"),
        F.sum("ws_ship_mode_sk").cast("bigint").alias("sm_sk_sum"),
        F.sum("ws_quantity").cast("bigint").alias("qty_sum"),
        F.sum("ws_ext_sales_price").cast("double").alias("sales_sum"),
        F.sum("ws_ext_list_price").cast("double").alias("list_sum"),
        F.sum("ws_ext_ship_cost").cast("double").alias("ship_cost_sum"),
        F.sum("ws_net_profit").cast("double").alias("profit_sum"),
    )


_SSV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT ss_ticket_number, ss_sold_date_sk, ss_sold_time_sk,
         ss_customer_sk, ss_store_sk, ss_item_sk,
         ss_quantity + 100 AS ss_quantity, ss_sales_price, ss_coupon_amt,
         1 AS ss_promo_sk
  FROM store_sales WHERE ss_ticket_number % 7 = 1
), hdr AS (
  SELECT ss_ticket_number AS purc_purchase_id,
         DATE '1998-01-01' + CAST(MIN(ss_sold_date_sk) - 2450815 AS INT)
           AS purc_purchase_date,
         MIN(ss_sold_time_sk) AS purc_purchase_time,
         'CUST' || lpad(CAST(MIN(ss_customer_sk) AS STRING), 10, '0')
           AS purc_customer_id,
         'STORE' || lpad(CAST(MIN(ss_store_sk) AS STRING), 4, '0')
           AS purc_store_id
  FROM delta GROUP BY ss_ticket_number
), lin AS (
  SELECT ss_ticket_number AS plin_purchase_id, ss_item_sk AS plin_item_sk,
         ss_quantity AS plin_quantity, ss_sales_price AS plin_sale_price,
         ss_coupon_amt AS plin_coupon_amt,
         'PROMO' || lpad(CAST(ss_promo_sk AS STRING), 6, '0')
           AS plin_promotion_id
  FROM delta
), rv AS (
  SELECT d.d_year AS sold_year, s.s_store_name AS store_name,
         c.c_customer_sk AS ss_customer_sk,
         c.c_current_addr_sk AS ss_addr_sk,
         t.t_time_sk AS ss_sold_time_sk,
         s.s_store_sk AS ss_store_sk,
         p.p_promo_sk AS ss_promo_sk,
         lin.plin_quantity AS ss_quantity,
         lin.plin_sale_price * lin.plin_quantity AS ss_ext_sales_price,
         i.i_current_price * lin.plin_quantity AS ss_ext_list_price,
         (lin.plin_sale_price * lin.plin_quantity) - lin.plin_coupon_amt
           - (i.i_wholesale_cost * lin.plin_quantity) AS ss_net_profit
  FROM lin
  JOIN hdr ON lin.plin_purchase_id = hdr.purc_purchase_id
  LEFT JOIN date_dim d ON hdr.purc_purchase_date = d.d_date
  LEFT JOIN time_dim t ON hdr.purc_purchase_time = t.t_time
  LEFT JOIN customer c ON hdr.purc_customer_id = c.c_customer_id
  LEFT JOIN store s ON hdr.purc_store_id = s.s_store_id
  LEFT JOIN item i ON lin.plin_item_sk = i.i_item_sk
  LEFT JOIN promotion p ON lin.plin_promotion_id = p.p_promo_id
)
SELECT COALESCE(sold_year, 0) AS sold_year,
       COALESCE(store_name, 'UNKNOWN') AS store_name,
       COUNT(*) AS cnt,
       CAST(SUM(ss_customer_sk) AS BIGINT) AS cust_sk_sum,
       CAST(SUM(ss_addr_sk) AS BIGINT) AS addr_sk_sum,
       CAST(SUM(ss_sold_time_sk) AS BIGINT) AS time_sk_sum,
       CAST(SUM(ss_store_sk) AS BIGINT) AS store_sk_sum,
       CAST(SUM(ss_promo_sk) AS BIGINT) AS promo_sk_sum,
       CAST(SUM(ss_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(ss_ext_sales_price) AS DOUBLE) AS sales_sum,
       CAST(SUM(ss_ext_list_price) AS DOUBLE) AS list_sum,
       CAST(SUM(ss_net_profit) AS DOUBLE) AS profit_sum
FROM rv GROUP BY 1, 2
""")


@query(
    "tpcds_refresh_ssv_dense",
    tags=("tpcds", "refresh", "ssv", "staging"),
    oracle=_SSV_DENSE_ORACLE,
)
def tpcds_refresh_ssv_dense(spark, sf_dir):
    """The reference-density store refresh chain: the round-1 delta
    split into the dsdgen-shaped purchase-header/lineitem staging pair,
    CSV round-tripped (pipe, headerless, explicit schemas), then the
    8-relation ssv_view shape resolving customer, store, date, time,
    item and promotion (TPCDSRefreshSchema.scala:579-613). The
    aggregate sums each RESOLVED key column, so a single mis-resolved
    id anywhere in the chain fails the value compare."""
    rv = _round_one(spark, sf_dir, "ssv_dense")
    return rv.groupBy(
        F.coalesce("sold_year", F.lit(0)).alias("sold_year"),
        F.coalesce("store_name", F.lit("UNKNOWN")).alias("store_name"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("ss_customer_sk").cast("bigint").alias("cust_sk_sum"),
        F.sum("ss_addr_sk").cast("bigint").alias("addr_sk_sum"),
        F.sum("ss_sold_time_sk").cast("bigint").alias("time_sk_sum"),
        F.sum("ss_store_sk").cast("bigint").alias("store_sk_sum"),
        F.sum("ss_promo_sk").cast("bigint").alias("promo_sk_sum"),
        F.sum("ss_quantity").cast("bigint").alias("qty_sum"),
        F.sum("ss_ext_sales_price").cast("double").alias("sales_sum"),
        F.sum("ss_ext_list_price").cast("double").alias("list_sum"),
        F.sum("ss_net_profit").cast("double").alias("profit_sum"),
    )


_SRV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT sr_ticket_number, sr_returned_date_sk, sr_item_sk,
         sr_customer_sk, sr_store_sk, sr_reason_sk,
         sr_return_quantity + 100 AS sr_return_quantity,
         sr_return_amt, sr_net_loss
  FROM store_returns WHERE sr_ticket_number % 7 = 1
), flat AS (
  SELECT sr_ticket_number AS sret_ticket_number,
         DATE '1998-01-01' + CAST(sr_returned_date_sk - 2450815 AS INT)
           AS sret_return_date,
         lpad(CAST(((sr_ticket_number * 7919 + sr_item_sk * 131) % 86400)
              // 3600 AS STRING), 2, '0') || ':' ||
         lpad(CAST(((sr_ticket_number * 7919 + sr_item_sk * 131) % 86400)
              % 3600 // 60 AS STRING), 2, '0') || ':' ||
         lpad(CAST((sr_ticket_number * 7919 + sr_item_sk * 131) % 60
              AS STRING), 2, '0') AS sret_return_time,
         sr_item_sk AS sret_item_sk,
         'CUST' || lpad(CAST(sr_customer_sk AS STRING), 10, '0')
           AS sret_customer_id,
         'STORE' || lpad(CAST(sr_store_sk AS STRING), 4, '0')
           AS sret_store_id,
         'REASON' || lpad(CAST(sr_reason_sk AS STRING), 4, '0')
           AS sret_reason_id,
         sr_return_quantity AS sret_return_qty,
         sr_return_amt AS sret_return_amt,
         sr_net_loss AS sret_net_loss
  FROM delta
), rv AS (
  SELECT d.d_year AS return_year, s.s_state AS store_state,
         r.r_reason_desc AS reason_desc,
         t.t_time_sk AS sr_return_time_sk,
         c.c_customer_sk AS sr_customer_sk,
         c.c_current_addr_sk AS sr_addr_sk,
         s.s_store_sk AS sr_store_sk,
         i.i_item_sk AS sr_item_sk,
         f.sret_return_qty AS sr_return_quantity,
         f.sret_return_amt AS sr_return_amt,
         f.sret_net_loss AS sr_net_loss
  FROM flat f
  LEFT JOIN date_dim d ON f.sret_return_date = d.d_date
  LEFT JOIN time_dim t
    ON (CAST(substr(f.sret_return_time, 1, 2) AS INT) * 3600
        + CAST(substr(f.sret_return_time, 4, 2) AS INT) * 60
        + CAST(substr(f.sret_return_time, 7, 2) AS INT)) = t.t_time
  LEFT JOIN item i ON f.sret_item_sk = i.i_item_sk
  LEFT JOIN customer c ON f.sret_customer_id = c.c_customer_id
  LEFT JOIN store s ON f.sret_store_id = s.s_store_id
  LEFT JOIN reason r ON f.sret_reason_id = r.r_reason_id
)
SELECT COALESCE(return_year, 0) AS return_year,
       COALESCE(store_state, 'UNKNOWN') AS store_state,
       COALESCE(reason_desc, 'UNKNOWN') AS reason_desc,
       COUNT(*) AS cnt,
       CAST(SUM(sr_return_time_sk) AS BIGINT) AS time_sk_sum,
       CAST(SUM(sr_customer_sk) AS BIGINT) AS cust_sk_sum,
       CAST(SUM(sr_addr_sk) AS BIGINT) AS addr_sk_sum,
       CAST(SUM(sr_store_sk) AS BIGINT) AS store_sk_sum,
       CAST(SUM(sr_item_sk) AS BIGINT) AS item_sk_sum,
       CAST(SUM(sr_return_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(sr_return_amt) AS DOUBLE) AS amt_sum,
       CAST(SUM(sr_net_loss) AS DOUBLE) AS loss_sum
FROM rv GROUP BY 1, 2, 3
""")


@query(
    "tpcds_refresh_srv_dense",
    tags=("tpcds", "refresh", "srv", "staging"),
    oracle=_SRV_DENSE_ORACLE,
)
def tpcds_refresh_srv_dense(spark, sf_dir):
    """The reference-density store-returns refresh chain: the round-1
    delta staged as the dsdgen s_store_returns flat file — including
    the HH:MM:SS return-time STRING the view must substr-decode back to
    seconds to join time_dim (TPCDSRefreshSchema.scala:640-643) — CSV
    round-tripped, then the 7-relation srv_view shape resolving date,
    time, item, customer, store and reason. The aggregate sums each
    RESOLVED key column, so a single mis-resolved id or a broken time
    decode anywhere in the chain fails the value compare."""
    rv = _round_one(spark, sf_dir, "srv_dense")
    return rv.groupBy(
        F.coalesce("return_year", F.lit(0)).alias("return_year"),
        F.coalesce("store_state", F.lit("UNKNOWN")).alias("store_state"),
        F.coalesce("reason_desc", F.lit("UNKNOWN")).alias("reason_desc"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("sr_return_time_sk").cast("bigint").alias("time_sk_sum"),
        F.sum("sr_customer_sk").cast("bigint").alias("cust_sk_sum"),
        F.sum("sr_addr_sk").cast("bigint").alias("addr_sk_sum"),
        F.sum("sr_store_sk").cast("bigint").alias("store_sk_sum"),
        F.sum("sr_item_sk").cast("bigint").alias("item_sk_sum"),
        F.sum("sr_return_quantity").cast("bigint").alias("qty_sum"),
        F.sum("sr_return_amt").cast("double").alias("amt_sum"),
        F.sum("sr_net_loss").cast("double").alias("loss_sum"),
    )


_WRV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT wr_order_number, wr_returned_date_sk, wr_item_sk,
         wr_returning_customer_sk, wr_reason_sk, wr_web_page_sk,
         wr_return_quantity + 100 AS wr_return_quantity,
         wr_return_amt, wr_fee, wr_refunded_cash, wr_net_loss
  FROM web_returns WHERE wr_order_number % 7 = 1
), flat AS (
  SELECT wr_order_number AS wret_order_id,
         DATE '1998-01-01' + CAST(wr_returned_date_sk - 2450815 AS INT)
           AS wret_return_date,
         lpad(CAST(((wr_order_number * 7919 + wr_item_sk * 131) % 86400)
              // 3600 AS STRING), 2, '0') || ':' ||
         lpad(CAST(((wr_order_number * 7919 + wr_item_sk * 131) % 86400)
              % 3600 // 60 AS STRING), 2, '0') || ':' ||
         lpad(CAST((wr_order_number * 7919 + wr_item_sk * 131) % 60
              AS STRING), 2, '0') AS wret_return_time,
         wr_item_sk AS wret_item_sk,
         'CUST' || lpad(CAST(wr_returning_customer_sk AS STRING), 10, '0')
           AS wret_return_customer_id,
         'REASON' || lpad(CAST(wr_reason_sk AS STRING), 4, '0')
           AS wret_reason_id,
         'PAGE' || lpad(CAST(wr_web_page_sk AS STRING), 4, '0')
           AS wret_web_page_id,
         wr_return_quantity AS wret_return_qty,
         wr_return_amt AS wret_return_amt,
         wr_fee AS wret_return_fee,
         wr_refunded_cash AS wret_refunded_cash,
         wr_net_loss AS wret_net_loss
  FROM delta
), rv AS (
  SELECT d.d_year AS return_year, i.i_category AS item_category,
         r.r_reason_desc AS reason_desc,
         t.t_time_sk AS wr_returned_time_sk,
         c.c_customer_sk AS wr_returning_customer_sk,
         c.c_current_addr_sk AS wr_returning_addr_sk,
         i.i_item_sk AS wr_item_sk,
         wp.wp_web_page_sk AS wr_web_page_sk,
         f.wret_return_qty AS wr_return_quantity,
         f.wret_return_amt AS wr_return_amt,
         f.wret_return_fee AS wr_fee,
         f.wret_refunded_cash AS wr_refunded_cash,
         f.wret_net_loss AS wr_net_loss
  FROM flat f
  LEFT JOIN date_dim d ON f.wret_return_date = d.d_date
  LEFT JOIN time_dim t
    ON (CAST(substr(f.wret_return_time, 1, 2) AS INT) * 3600
        + CAST(substr(f.wret_return_time, 4, 2) AS INT) * 60
        + CAST(substr(f.wret_return_time, 7, 2) AS INT)) = t.t_time
  LEFT JOIN item i ON f.wret_item_sk = i.i_item_sk
  LEFT JOIN customer c ON f.wret_return_customer_id = c.c_customer_id
  LEFT JOIN reason r ON f.wret_reason_id = r.r_reason_id
  LEFT JOIN web_page wp ON f.wret_web_page_id = wp.wp_web_page_id
)
SELECT COALESCE(return_year, 0) AS return_year,
       COALESCE(item_category, 'UNKNOWN') AS item_category,
       COALESCE(reason_desc, 'UNKNOWN') AS reason_desc,
       COUNT(*) AS cnt,
       CAST(SUM(wr_returned_time_sk) AS BIGINT) AS time_sk_sum,
       CAST(SUM(wr_returning_customer_sk) AS BIGINT) AS cust_sk_sum,
       CAST(SUM(wr_returning_addr_sk) AS BIGINT) AS addr_sk_sum,
       CAST(SUM(wr_item_sk) AS BIGINT) AS item_sk_sum,
       CAST(SUM(wr_web_page_sk) AS BIGINT) AS page_sk_sum,
       CAST(SUM(wr_return_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(wr_return_amt) AS DOUBLE) AS amt_sum,
       CAST(SUM(wr_fee) AS DOUBLE) AS fee_sum,
       CAST(SUM(wr_refunded_cash) AS DOUBLE) AS refund_sum,
       CAST(SUM(wr_net_loss) AS DOUBLE) AS loss_sum
FROM rv GROUP BY 1, 2, 3
""")


@query(
    "tpcds_refresh_wrv_dense",
    tags=("tpcds", "refresh", "wrv", "staging"),
    oracle=_WRV_DENSE_ORACLE,
)
def tpcds_refresh_wrv_dense(spark, sf_dir):
    """The reference-density web-returns refresh chain: the round-1
    delta staged as the dsdgen s_web_returns flat file (HH:MM:SS
    return-time string included), CSV round-tripped, then the
    7-relation wrv_view shape resolving date, time, item, returning
    customer, reason and web page
    (TPCDSRefreshSchema.scala:702-735)."""
    rv = _round_one(spark, sf_dir, "wrv_dense")
    return rv.groupBy(
        F.coalesce("return_year", F.lit(0)).alias("return_year"),
        F.coalesce("item_category", F.lit("UNKNOWN")).alias("item_category"),
        F.coalesce("reason_desc", F.lit("UNKNOWN")).alias("reason_desc"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("wr_returned_time_sk").cast("bigint").alias("time_sk_sum"),
        F.sum("wr_returning_customer_sk").cast("bigint").alias("cust_sk_sum"),
        F.sum("wr_returning_addr_sk").cast("bigint").alias("addr_sk_sum"),
        F.sum("wr_item_sk").cast("bigint").alias("item_sk_sum"),
        F.sum("wr_web_page_sk").cast("bigint").alias("page_sk_sum"),
        F.sum("wr_return_quantity").cast("bigint").alias("qty_sum"),
        F.sum("wr_return_amt").cast("double").alias("amt_sum"),
        F.sum("wr_fee").cast("double").alias("fee_sum"),
        F.sum("wr_refunded_cash").cast("double").alias("refund_sum"),
        F.sum("wr_net_loss").cast("double").alias("loss_sum"),
    )


_CRV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT cr_order_number, cr_returned_date_sk, cr_item_sk,
         cr_returning_customer_sk, cr_call_center_sk, cr_catalog_page_sk,
         cr_return_quantity + 100 AS cr_return_quantity,
         cr_return_amount, cr_refunded_cash, cr_reversed_charge,
         cr_store_credit, cr_net_loss
  FROM catalog_returns WHERE cr_order_number % 7 = 1
), flat AS (
  SELECT cr_order_number AS cret_order_id,
         DATE '1998-01-01' + CAST(cr_returned_date_sk - 2450815 AS INT)
           AS cret_return_date,
         lpad(CAST(((cr_order_number * 7919 + cr_item_sk * 131) % 86400)
              // 3600 AS STRING), 2, '0') || ':' ||
         lpad(CAST(((cr_order_number * 7919 + cr_item_sk * 131) % 86400)
              % 3600 // 60 AS STRING), 2, '0') || ':' ||
         lpad(CAST((cr_order_number * 7919 + cr_item_sk * 131) % 60
              AS STRING), 2, '0') AS cret_return_time,
         cr_item_sk AS cret_item_sk,
         'CUST' || lpad(CAST(cr_returning_customer_sk AS STRING), 10, '0')
           AS cret_return_customer_id,
         'CC' || lpad(CAST(cr_call_center_sk AS STRING), 4, '0')
           AS cret_call_center_id,
         'PAGE' || lpad(CAST(cr_catalog_page_sk AS STRING), 6, '0')
           AS cret_catalog_page_id,
         cr_return_quantity AS cret_return_qty,
         cr_return_amount AS cret_return_amt,
         cr_refunded_cash AS cret_refunded_cash,
         cr_reversed_charge AS cret_reversed_charge,
         cr_store_credit AS cret_merchant_credit,
         cr_net_loss AS cret_net_loss
  FROM delta
), rv AS (
  SELECT d.d_year AS return_year, cc.cc_name AS call_center_name,
         t.t_time_sk AS cr_returned_time_sk,
         c.c_customer_sk AS cr_returning_customer_sk,
         c.c_current_addr_sk AS cr_returning_addr_sk,
         i.i_item_sk AS cr_item_sk,
         cp.cp_catalog_page_sk AS cr_catalog_page_sk,
         f.cret_return_qty AS cr_return_quantity,
         f.cret_return_amt AS cr_return_amount,
         f.cret_return_amt - f.cret_refunded_cash - f.cret_reversed_charge
           - f.cret_merchant_credit AS cr_residual_amount,
         f.cret_net_loss AS cr_net_loss
  FROM flat f
  LEFT JOIN date_dim d ON f.cret_return_date = d.d_date
  LEFT JOIN time_dim t
    ON (CAST(substr(f.cret_return_time, 1, 2) AS INT) * 3600
        + CAST(substr(f.cret_return_time, 4, 2) AS INT) * 60
        + CAST(substr(f.cret_return_time, 7, 2) AS INT)) = t.t_time
  LEFT JOIN item i ON f.cret_item_sk = i.i_item_sk
  LEFT JOIN customer c ON f.cret_return_customer_id = c.c_customer_id
  LEFT JOIN call_center cc ON f.cret_call_center_id = cc.cc_call_center_id
  LEFT JOIN catalog_page cp ON f.cret_catalog_page_id = cp.cp_catalog_page_id
)
SELECT COALESCE(return_year, 0) AS return_year,
       COALESCE(call_center_name, 'UNKNOWN') AS call_center_name,
       COUNT(*) AS cnt,
       CAST(SUM(cr_returned_time_sk) AS BIGINT) AS time_sk_sum,
       CAST(SUM(cr_returning_customer_sk) AS BIGINT) AS cust_sk_sum,
       CAST(SUM(cr_returning_addr_sk) AS BIGINT) AS addr_sk_sum,
       CAST(SUM(cr_item_sk) AS BIGINT) AS item_sk_sum,
       CAST(SUM(cr_catalog_page_sk) AS BIGINT) AS page_sk_sum,
       CAST(SUM(cr_return_quantity) AS BIGINT) AS qty_sum,
       CAST(SUM(cr_return_amount) AS DOUBLE) AS amt_sum,
       CAST(SUM(cr_residual_amount) AS DOUBLE) AS residual_sum,
       CAST(SUM(cr_net_loss) AS DOUBLE) AS loss_sum
FROM rv GROUP BY 1, 2
""")


@query(
    "tpcds_refresh_crv_dense",
    tags=("tpcds", "refresh", "crv", "staging"),
    oracle=_CRV_DENSE_ORACLE,
)
def tpcds_refresh_crv_dense(spark, sf_dir):
    """The reference-density catalog-returns refresh chain: the round-1
    delta staged as the dsdgen s_catalog_returns flat file (HH:MM:SS
    return-time string included), CSV round-tripped, then the
    7-relation crv_view shape resolving date, time, item, returning
    customer, call center and catalog page
    (TPCDSRefreshSchema.scala:790-834)."""
    rv = _round_one(spark, sf_dir, "crv_dense")
    return rv.groupBy(
        F.coalesce("return_year", F.lit(0)).alias("return_year"),
        F.coalesce("call_center_name", F.lit("UNKNOWN")).alias(
            "call_center_name"
        ),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("cr_returned_time_sk").cast("bigint").alias("time_sk_sum"),
        F.sum("cr_returning_customer_sk").cast("bigint").alias("cust_sk_sum"),
        F.sum("cr_returning_addr_sk").cast("bigint").alias("addr_sk_sum"),
        F.sum("cr_item_sk").cast("bigint").alias("item_sk_sum"),
        F.sum("cr_catalog_page_sk").cast("bigint").alias("page_sk_sum"),
        F.sum("cr_return_quantity").cast("bigint").alias("qty_sum"),
        F.sum("cr_return_amount").cast("double").alias("amt_sum"),
        F.sum("cr_residual_amount").cast("double").alias("residual_sum"),
        F.sum("cr_net_loss").cast("double").alias("loss_sum"),
    )


_IV_DENSE_ORACLE = compose_oracle("""
WITH delta AS (
  SELECT inv_date_sk, inv_item_sk, inv_warehouse_sk,
         inv_quantity_on_hand + 100 AS inv_quantity_on_hand
  FROM inventory WHERE inv_date_sk % 7 = 1
), flat AS (
  SELECT DATE '1998-01-01' + CAST(inv_date_sk - 2450815 AS INT)
           AS invn_date,
         inv_item_sk AS invn_item_sk,
         'Warehouse ' || CAST(inv_warehouse_sk AS STRING)
           AS invn_warehouse_name,
         inv_quantity_on_hand AS invn_qty_on_hand
  FROM delta
), rv AS (
  SELECT d.d_year AS snapshot_year, i.i_category AS item_category,
         w.w_state AS warehouse_state,
         d.d_date_sk AS inv_date_sk,
         i.i_item_sk AS inv_item_sk,
         w.w_warehouse_sk AS inv_warehouse_sk,
         f.invn_qty_on_hand AS inv_quantity_on_hand
  FROM flat f
  LEFT JOIN warehouse w ON f.invn_warehouse_name = w.w_warehouse_name
  LEFT JOIN item i ON f.invn_item_sk = i.i_item_sk
  LEFT JOIN date_dim d ON d.d_date = f.invn_date
)
SELECT COALESCE(snapshot_year, 0) AS snapshot_year,
       COALESCE(item_category, 'UNKNOWN') AS item_category,
       COALESCE(warehouse_state, 'UNKNOWN') AS warehouse_state,
       COUNT(*) AS cnt,
       CAST(SUM(inv_date_sk) AS BIGINT) AS date_sk_sum,
       CAST(SUM(inv_item_sk) AS BIGINT) AS item_sk_sum,
       CAST(SUM(inv_warehouse_sk) AS BIGINT) AS wh_sk_sum,
       CAST(SUM(inv_quantity_on_hand) AS BIGINT) AS qoh_sum
FROM rv GROUP BY 1, 2, 3
""")


@query(
    "tpcds_refresh_iv_dense",
    tags=("tpcds", "refresh", "iv", "staging"),
    oracle=_IV_DENSE_ORACLE,
)
def tpcds_refresh_iv_dense(spark, sf_dir):
    """The reference-density inventory refresh chain: the round-1 delta
    staged as the dsdgen s_inventory flat file (calendar date +
    warehouse business string), CSV round-tripped, then the 4-relation
    iv_view shape (TPCDSRefreshSchema.scala:836-844) — completing the
    reference-density analog for all seven refresh views."""
    rv = _round_one(spark, sf_dir, "iv_dense")
    return rv.groupBy(
        F.coalesce("snapshot_year", F.lit(0)).alias("snapshot_year"),
        F.coalesce("item_category", F.lit("UNKNOWN")).alias("item_category"),
        F.coalesce("warehouse_state", F.lit("UNKNOWN")).alias(
            "warehouse_state"
        ),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("inv_date_sk").cast("bigint").alias("date_sk_sum"),
        F.sum("inv_item_sk").cast("bigint").alias("item_sk_sum"),
        F.sum("inv_warehouse_sk").cast("bigint").alias("wh_sk_sum"),
        F.sum("inv_quantity_on_hand").cast("bigint").alias("qoh_sum"),
    )
