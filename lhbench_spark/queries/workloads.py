"""Oracle-checked query entries for the workload surface (SURVEY.md §2.1
range source, §2.2 rand() sampling, §2.9 merge micro / file-count).

The standalone workload runners (lhbench_spark.workloads.*) use true
``rand()`` sampling and big configs; these registry entries run small
DETERMINISTIC configurations of the same code paths so DuckDB can verify
values (modulo-sampled update sets; range() is reproducible in both
engines). ``sample_rand_filter`` exercises genuine rand()/randn() and is
registered rows-only (nondeterministic by nature — exactly why the
reference only uses it to pick update rows, MergeMicroBenchmark.scala:249).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from lhbench_spark.catalog import table
from lhbench_spark.functions.numeric import dsum, dsum_sql
from lhbench_spark.queries.registry import query
from lhbench_spark.tables import ManagedTable
from lhbench_spark.workloads.merge_micro import gen_table

_GEN_ROWS = 100_000

# DuckDB twin of workloads.merge_micro.gen_table — same formulas over
# range(); conv(key,10,16) in Spark yields uppercase hex, hence upper(to_hex).
_GEN_DUCK = f"""
SELECT r AS key, r * 7.1 + 13.4 AS value,
       upper(to_hex(r)) AS skey, r % 1000 AS bucket
FROM range({_GEN_ROWS}) t(r)
"""


@query(
    "range_gen_table",
    tags=("range-source", "datagen"),
    oracle=f"""
WITH g AS ({_GEN_DUCK})
SELECT COUNT(*) AS cnt,
       {dsum_sql("value")} AS value_sum,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
       MAX(skey) AS max_skey
FROM g
""",
)
def range_gen_table(spark, sf_dir):
    """Range-source data generation (spark.range with explicit splits,
    MergeMicroBenchmark.scala:225-229) — aggregate fingerprint of the
    generated table, value-checked against DuckDB's range()."""
    g = gen_table(spark, _GEN_ROWS, 16)
    return g.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("value").alias("value_sum"),
        F.countDistinct("bucket").cast("bigint").alias("n_buckets"),
        F.max("skey").alias("max_skey"),
    )


_MERGE_MICRO_ORACLE = f"""
WITH base AS ({_GEN_DUCK}),
upd AS (
    SELECT key, -value AS value, skey, bucket FROM base WHERE key % 97 = 0
),
ins AS (
    SELECT r AS key, r * 7.1 + 13.4 AS value,
           upper(to_hex(r)) AS skey, r % 1000 AS bucket
    FROM range({_GEN_ROWS}, {_GEN_ROWS + 1000}) t(r)
),
merged AS (
    SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    UNION ALL SELECT * FROM base b
    WHERE b.key % 97 <> 0
)
SELECT COUNT(*) AS cnt,
       {dsum_sql("value")} AS value_sum,
       (SELECT COUNT(*) FROM merged WHERE value < 0) AS updated_cnt
FROM merged
"""


@query(
    "merge_micro_counts",
    tags=("dml", "merge", "range-source"),
    oracle=_MERGE_MICRO_ORACLE,
)
def merge_micro_counts(spark, sf_dir):
    """Merge-micro round with a deterministic (modulo) update sample:
    range-generated table → MERGE of updates+inserts → table fingerprint.
    Same code path as workloads.merge_micro, value-checked end to end."""
    root = tempfile.mkdtemp(prefix="lhbench_mm_") + "/t"
    base = gen_table(spark, _GEN_ROWS, 16)
    t = ManagedTable.create(
        spark, root, base, cluster_by=("key",), num_files=8, validate_count=False
    )
    updates = t.read().filter(F.col("key") % 97 == 0).withColumn(
        "value", -F.col("value")
    )
    inserts = gen_table(spark, _GEN_ROWS + 1000, 4).filter(F.col("key") >= _GEN_ROWS)
    t.merge(updates.unionByName(inserts), on=["key"], validate_unique=False)
    got = t.read()
    return got.agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("value").alias("value_sum"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("updated_cnt"),
    )


_FC_ROWS = 50_000

_FILE_COUNT_ORACLE = f"""
WITH g AS (
    SELECT r AS key, r % 1000 AS bucket FROM range({_FC_ROWS}) t(r)
)
SELECT (SELECT COUNT(*) FROM g) AS full_cnt,
       (SELECT COUNT(*) FROM g WHERE key = 7) AS prune_cnt,
       (SELECT COUNT(*) FROM g WHERE bucket = 3) AS value_cnt
"""


@query(
    "file_count_answers",
    tags=("metadata", "file-count", "managed-table"),
    oracle=_FILE_COUNT_ORACLE,
)
def file_count_answers(spark, sf_dir):
    """File-count workload read shapes (FileCountBenchmark.scala:244-249)
    against a 64-file manifest table: full scan count, manifest-pruned
    key lookup, value filter — completeness and pruning are value-checked."""
    root = tempfile.mkdtemp(prefix="lhbench_fcq_") + "/t"
    t = ManagedTable.create(
        spark, root, gen_table(spark, _FC_ROWS, 16), cluster_by=("key",),
        num_files=64, validate_count=False,
    )
    full_cnt = t.read().agg(F.count(F.lit(1)).alias("c"))
    prune_cnt = (
        t.read(prune={"key": 7})
        .filter(F.col("key") == 7)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    value_cnt = t.read().filter(F.col("bucket") == 3).agg(F.count(F.lit(1)).alias("c"))
    return (
        full_cnt.select(F.col("c").alias("full_cnt"))
        .crossJoin(prune_cnt.select(F.col("c").alias("prune_cnt")))
        .crossJoin(value_cnt.select(F.col("c").alias("value_cnt")))
    )


@query("sample_rand_filter", tags=("rand", "sampling"))
def sample_rand_filter(spark, sf_dir):
    """Genuine rand()/randn() sampling filter (MergeMicroBenchmark.scala:249,
    FileCountBenchmark.scala:216-228) — rows-only by nature: the sample is
    engine-seeded. Returns one row of sample stats; the sanity bound on
    the sampled fraction is asserted in unit tests."""
    li = table(spark, sf_dir, "lineitem")
    sample = li.filter(F.rand(42) < 0.01).withColumn("noise", F.randn(7))
    return sample.agg(
        F.count(F.lit(1)).alias("sampled_rows"),
        F.avg("noise").alias("noise_mean"),
    )


_REFRESH_VIEW_ORACLE = """
WITH li_delta AS (
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           (l_extendedprice * 1.01) AS l_extendedprice, l_discount, l_tax
    FROM lineitem WHERE l_orderkey % 7 = 1
), o_delta AS (
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders WHERE o_orderkey % 7 = 1
), rv AS (
    SELECT l.l_orderkey,
           (l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           (l.l_extendedprice * (1 - l.l_discount) * (1 + l.l_tax)) AS charge,
           COALESCE(cn.n_name, 'UNKNOWN') AS cust_nation,
           COALESCE(r.r_name, 'UNKNOWN') AS cust_region,
           COALESCE(sn.n_name, 'UNKNOWN') AS supp_nation,
           COALESCE(p.p_brand, 'UNKNOWN') AS brand
    FROM li_delta l
    LEFT JOIN o_delta o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    LEFT JOIN region r ON cn.n_regionkey = r.r_regionkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    LEFT JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT cust_region, supp_nation, COUNT(*) AS cnt,
       {rev_sum} AS revenue_sum, {charge_sum} AS charge_sum
FROM rv GROUP BY cust_region, supp_nation
""".format(rev_sum=dsum_sql("revenue"), charge_sum=dsum_sql("charge"))


@query(
    "csv_refresh_view",
    tags=("csv", "refresh", "staging"),
    oracle=_REFRESH_VIEW_ORACLE,
)
def csv_refresh_view(spark, sf_dir):
    """CSV staging ingest with explicit StructType (pipe-delimited,
    headerless — IncrementalTPCDSBenchmark.scala:430-440) feeding the
    join-dense refresh view at reference density (the ssv 7-join
    left-outer chain, TPCDSRefreshSchema.scala:579-613: sibling staged
    fact + customer → nation → region + supplier → nation + part).
    The oracle recomputes the same 7-way chain from the parquet sources
    directly, so any CSV round-trip fidelity loss (doubles, nulls,
    delimiters) fails the gate."""
    import tempfile as _tf

    from lhbench_spark.workloads import refresh as rw

    work = _tf.mkdtemp(prefix="lhbench_csvrv_")
    rv = rw.refresh_view(
        rw.csv_round_trip(spark, rw.stage_lineitem_delta(spark, sf_dir, 1), f"{work}/li"),
        rw.csv_round_trip(spark, rw.stage_orders_delta(spark, sf_dir, 1), f"{work}/o"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "supplier"),
        table(spark, sf_dir, "region"),
        table(spark, sf_dir, "part"),
    )
    return rv.groupBy("cust_region", "supp_nation").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("revenue").alias("revenue_sum"),
        dsum("charge").alias("charge_sum"),
    )


_WRITER_SINK_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,8))) AS DOUBLE) AS price_sum
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@query(
    "catalog_writer_partitioned",
    tags=("sink", "partitioned-write", "partition-pruning"),
    oracle=_WRITER_SINK_ORACLE,
)
def catalog_writer_partitioned(spark, sf_dir):
    """DataFrameWriter sink (IncrementalTPCDSBenchmark.scala:363-374,
    FileCountBenchmark.scala:230-237): Hive-style partitionBy write with
    bounded files-per-partition and sortWithinPartitions, read back with a
    partition-key filter — partition pruning applies at the scan (only the
    two matching key=value directories are read), and the oracle
    recomputes from the source, so write->read fidelity is value-checked."""
    from lhbench_spark import sinks

    out = tempfile.mkdtemp(prefix="lhbench_wsink_") + "/orders_by_prio"
    sinks.write_partitioned(
        table(spark, sf_dir, "orders"),
        out,
        partition_by=("o_orderpriority",),
        files_per_partition=2,
        sort_within=("o_orderkey",),
    )
    back = sinks.read_partitioned(spark, out).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(18,8)"))
        .cast("double")
        .alias("price_sum"),
    )


_DPP_ORACLE = """
WITH fact AS (
    SELECT *, strftime(o_orderdate, '%Y-%m') AS o_month FROM orders
), dim AS (
    SELECT DISTINCT o_month AS month, substr(o_month, 1, 4) AS year FROM fact
)
SELECT f.o_month,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,8))) AS DOUBLE) AS price_sum
FROM fact f JOIN dim d ON f.o_month = d.month
WHERE d.year = '1995'
GROUP BY f.o_month
"""


@query(
    "catalog_dpp_partition_prune",
    tags=("sink", "partitioned-write", "dpp", "partition-pruning"),
    oracle=_DPP_ORACLE,
)
def catalog_dpp_partition_prune(spark, sf_dir):
    """Dynamic partition pruning over a Hive-partitioned fact (the layout
    the reference's fact tables use, TPCDSDataLoad.scala:676-702 + SURVEY
    §4): orders written PARTITIONED BY month, joined through a month
    dimension filtered on year. The year → month mapping only exists in
    the dim DATA (not in any literal), so static pruning cannot apply —
    Catalyst must inject the dim's month values into the fact scan's
    partition filters at runtime (DPP; plan-asserted in
    tests/test_plans.py). At 100 TB this is the difference between
    scanning 12 partitions and scanning all of them."""
    from lhbench_spark import sinks

    base = tempfile.mkdtemp(prefix="lhbench_dpp_")
    fact = table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    sinks.write_partitioned(
        fact, f"{base}/orders_by_month", partition_by=("o_month",),
        files_per_partition=1,
    )
    # The dim must be a real table (read from storage), not a derived
    # frame Catalyst could collapse into the fact side.
    fact.select(F.col("o_month").alias("month")).distinct().withColumn(
        "year", F.substring("month", 1, 4)
    ).write.parquet(f"{base}/month_dim")

    f = sinks.read_partitioned(spark, f"{base}/orders_by_month")
    d = spark.read.parquet(f"{base}/month_dim").filter(F.col("year") == "1995")
    return (
        f.join(F.broadcast(d), f["o_month"] == d["month"])
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,8)"))
            .cast("double")
            .alias("price_sum"),
        )
    )


_REFRESH_PARTS_ORACLE = """
WITH li_delta AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
           (l_extendedprice * 1.01) AS l_extendedprice, l_discount
    FROM lineitem WHERE l_orderkey % 7 = 1
), rv AS (
    SELECT COALESCE(p.p_brand, 'UNKNOWN') AS brand,
           (l.l_extendedprice * (1 - l.l_discount)) AS revenue,
           l.l_quantity AS quantity
    FROM li_delta l
    LEFT JOIN part p ON l.l_partkey = p.p_partkey
    LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
)
SELECT brand, COUNT(*) AS cnt, {rev} AS revenue_sum, {qty} AS qty_sum
FROM rv GROUP BY brand
""".format(rev=dsum_sql("revenue"), qty=dsum_sql("quantity"))


@query(
    "csv_refresh_parts_view",
    tags=("csv", "refresh", "staging", "compound-dim"),
    oracle=_REFRESH_PARTS_ORACLE,
)
def csv_refresh_parts_view(spark, sf_dir):
    """Second refresh-view shape: the CSV-staged delta joined through the
    part and supplier dimension chain (TPCDSRefreshSchema.scala:614-845
    family) — same staging fidelity gate as csv_refresh_view, different
    dimension topology (two broadcast dims keyed from different delta
    columns)."""
    import tempfile as _tf

    from lhbench_spark.workloads import refresh as rw

    work = _tf.mkdtemp(prefix="lhbench_csvrv2_")
    li_delta = rw.csv_round_trip(
        spark, rw.stage_lineitem_delta(spark, sf_dir, 1), f"{work}/li"
    )
    rv = rw.refresh_view_parts(
        li_delta, table(spark, sf_dir, "part"), table(spark, sf_dir, "supplier")
    )
    return rv.groupBy("brand").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("revenue").alias("revenue_sum"),
        dsum("quantity").alias("qty_sum"),
    )


_JSONL_ORACLE = """
SELECT lang,
       COUNT(*) AS doc_cnt,
       CAST(SUM(length(text)) AS BIGINT) AS char_sum,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY lang
"""


@query(
    "columnar_jsonl_roundtrip",
    tags=("source", "jsonl", "documents"),
    oracle=_JSONL_ORACLE,
)
def columnar_jsonl_roundtrip(spark, sf_dir):
    """JSONL source/sink — the interchange format training corpora
    actually ship in: write the documents table as JSON lines, read it
    back with an EXPLICIT schema (no inference job — inference scans the
    whole corpus once and makes the schema data-dependent; at 100 TB the
    schema is a contract, not a discovery), and aggregate. The oracle
    recomputes from the parquet source, so the write→read roundtrip is
    value-checked, string escaping included."""
    docs = table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="lhbench_jsonl_") + "/docs"
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema(docs.schema).json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum(F.length("text")).cast("bigint").alias("char_sum"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )


_ORC_ORACLE = """
SELECT source,
       COUNT(*) AS doc_cnt,
       CAST(SUM(n_chars) AS BIGINT) AS char_sum,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents
GROUP BY source
"""


@query(
    "warehouse_orc_roundtrip",
    tags=("source", "sink", "orc", "documents"),
    oracle=_ORC_ORACLE,
)
def warehouse_orc_roundtrip(spark, sf_dir):
    """ORC source/sink — the second columnar on-disk format Spark ships
    natively (the reference benchmarks parquet-family formats against
    each other; ORC is the same class of columnar scan surface): write
    the documents table as zstd ORC, read it back with an EXPLICIT
    schema (schema is a contract, not a discovery — same rule as the
    JSONL roundtrip), and aggregate per source. The oracle recomputes
    from the parquet source, so the write -> read roundtrip is
    value-checked end to end; ORC predicate pushdown and column pruning
    come from the same DataSource V1 scan machinery the parquet plan
    tests pin."""
    docs = table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="lhbench_orc_") + "/docs"
    docs.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.schema(docs.schema).orc(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_chars").cast("bigint").alias("char_sum"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


# -- Exact-arithmetic HyperLogLog (register level) ----------------------------
# agg_sketches gates Spark's built-in HLL++ behind error-bound booleans
# (its binary sketch state is engine-private); this is the complement:
# the HLL MECHANICS built from scratch so the ENTIRE sketch state is
# value-identical across engines. 60-bit md5-prefix hash -> low 8 bits
# pick one of m=256 registers, the remaining 52 bits' leading-zero rank
# is the register value, per-register MAX is the mergeable state (one
# map-side-combined agg — registers merge with max(), which is why HLL
# shards/unions freely at 100 TB), and the harmonic-mean denominator
# Σ 2^-rank is scaled by 2^53 into a BIGINT sum — exact under any
# aggregation order, so the final estimate is one division of identical
# doubles. No libm anywhere (the standard small-range ln() correction is
# deliberately omitted — ln is not cross-engine bit-stable; the raw
# estimator plus the exact NDV and the empty-register count are the
# value-checked contract, and the relative-error column shows the
# sketch's real accuracy at the test SF).
_HLL_M = 256
# alpha_256 * m^2 * 2^53, precomputed so the estimate is literal/S.
_HLL_NUM = 4.2399330249068963e+20

_HLL_ORACLE = f"""
WITH h AS (
    SELECT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
    FROM documents
), reg AS (
    SELECT hv % {_HLL_M} AS register,
           CASE WHEN hv // {_HLL_M} = 0 THEN 53
                ELSE 53 - length(bin(hv // {_HLL_M})) END AS rnk
    FROM h
), st AS (
    SELECT register, MAX(rnk) AS max_rank FROM reg GROUP BY register
), agg AS (
    SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - max_rank)) AS BIGINT) AS s,
           COUNT(*) AS n_filled
    FROM st
), ex AS (SELECT COUNT(DISTINCT text) AS exact_ndv FROM documents)
SELECT CAST({_HLL_M} - n_filled AS BIGINT) AS n_empty_registers,
       s AS harmonic_denom_q53,
       ROUND({_HLL_NUM!r} / (s + ({_HLL_M} - n_filled) * (CAST(1 AS BIGINT) << 53)), 6)
           AS hll_estimate,
       CAST(exact_ndv AS BIGINT) AS exact_ndv,
       ROUND(({_HLL_NUM!r} / (s + ({_HLL_M} - n_filled) * (CAST(1 AS BIGINT) << 53))
              - exact_ndv) / exact_ndv, 6) AS rel_error
FROM agg, ex
"""


@query(
    "warehouse_hll_sketch",
    tags=("agg", "sketch", "hll", "documents", "extension"),
    oracle=_HLL_ORACLE,
)
def warehouse_hll_sketch(spark, sf_dir):
    """From-scratch HyperLogLog with value-identical state across
    engines — see the block comment above. Empty registers contribute
    2^-0 = 1 to the harmonic denominator (the standard estimator), added
    as (m - filled)·2^53 in the scaled-integer space."""
    docs = table(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint")
    h = docs.select(hv.alias("hv"))
    # integer DIV, not `/` (true division goes through double and loses
    # exactness above 2^53 — hv is a 60-bit hash)
    rem = F.expr(f"hv div {_HLL_M}")
    reg = h.select(
        (F.col("hv") % _HLL_M).alias("register"),
        F.when(rem == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin(rem)))
        .alias("rnk"),
    )
    st = reg.groupBy("register").agg(F.max("rnk").alias("max_rank"))
    agg = st.agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 53 - max_rank)"))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).alias("n_filled"),
    )
    ex = docs.agg(F.countDistinct("text").alias("exact_ndv"))
    row = agg.crossJoin(F.broadcast(ex))
    denom = F.col("s") + (F.lit(_HLL_M) - F.col("n_filled")) * F.lit(
        1 << 53
    ).cast("bigint")
    est = F.lit(_HLL_NUM) / denom
    return row.select(
        (F.lit(_HLL_M) - F.col("n_filled")).cast("bigint").alias(
            "n_empty_registers"
        ),
        F.col("s").alias("harmonic_denom_q53"),
        F.round(est, 6).alias("hll_estimate"),
        F.col("exact_ndv").cast("bigint").alias("exact_ndv"),
        F.round((est - F.col("exact_ndv")) / F.col("exact_ndv"), 6).alias(
            "rel_error"
        ),
    )


# -- Declarative data-quality constraint audit --------------------------------
# The expectations/constraints pass every warehouse load runs before
# publishing (CHECK constraints, FK integrity, PK uniqueness) expressed
# as one UNION ALL of per-rule audit rows. Scale shape: the three CHECK
# rules are map-side-combined scan-aggregates (zero shuffle beyond the
# 1-row combine); the two FK rules are LEFT ANTI joins that shuffle on
# the key — at 100 TB AQE plans them as broadcast (customer-side) or
# sort-merge with the runtime bloom filter the tpcds_bloom_semijoin demo
# pins; PK uniqueness is one groupBy on the key counting surplus rows.
# Each branch reduces to a single row before the union, so the final
# frame is rule-cardinality no matter the SF.

# Every CHECK rule is written as CASE WHEN <ok> THEN 0 ELSE 1 — a NULL
# measure fails <ok> and counts as a violation in BOTH engines (the
# audit's job is to flag unknowns, and SUM-of-CASE-with-negated-
# predicate would silently pass NULLs on the Spark side only).
_CONSTRAINT_ORACLE = """
SELECT 'orders_totalprice_positive' AS rule,
       COUNT(*) AS n_checked,
       CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_violations
FROM orders
UNION ALL
SELECT 'lineitem_qty_range', COUNT(*),
       CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range', COUNT(*),
       CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_customer_fk', (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_orders_fk', (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders_pk_unique', (SELECT COUNT(*) FROM orders),
       (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
          (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey) g
        WHERE c > 1)
"""


@query(
    "warehouse_constraint_audit",
    tags=("quality", "constraints", "fk", "extension"),
    oracle=_CONSTRAINT_ORACLE,
)
def warehouse_constraint_audit(spark, sf_dir):
    """Declarative constraint audit: three CHECK rules, two FK rules,
    one PK-uniqueness rule, each reduced to (rule, n_checked,
    n_violations) before a rule-cardinality UNION ALL — see the block
    comment for the per-branch scale shapes."""
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer")

    def check(name, df, ok):
        # violation = NOT ok, with NULL counting as a violation (the
        # when/otherwise falls through on NULL) — mirrors the oracle's
        # CASE WHEN <ok> THEN 0 ELSE 1 exactly.
        return df.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(ok, 0).otherwise(1)).cast("bigint").alias(
                "n_violations"
            ),
        ).select("rule", "n_checked", "n_violations")

    def fk(name, child, child_total, key_pair, parent):
        orphans = child.join(parent, key_pair, "left_anti").agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        return (
            child_total.crossJoin(orphans)
            .withColumn("rule", F.lit(name))
            .select("rule", "n_checked", "n_violations")
        )

    checks = check(
        "orders_totalprice_positive", orders, F.col("o_totalprice") > 0
    ).unionByName(
        check(
            "lineitem_qty_range",
            lineitem,
            F.col("l_quantity").between(1, 50),
        )
    ).unionByName(
        check(
            "lineitem_discount_range",
            lineitem,
            F.col("l_discount").between(0, 1),
        )
    )

    o_total = orders.agg(F.count(F.lit(1)).alias("n_checked"))
    l_total = lineitem.agg(F.count(F.lit(1)).alias("n_checked"))
    fks = fk(
        "orders_customer_fk",
        orders.select(F.col("o_custkey").alias("c_custkey")),
        o_total,
        ["c_custkey"],
        customer.select("c_custkey"),
    ).unionByName(
        fk(
            "lineitem_orders_fk",
            lineitem.select(F.col("l_orderkey").alias("o_orderkey")),
            l_total,
            ["o_orderkey"],
            orders.select("o_orderkey"),
        )
    )

    dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_violations")
        )
    )
    pk = (
        o_total.crossJoin(dup)
        .withColumn("rule", F.lit("orders_pk_unique"))
        .select("rule", "n_checked", "n_violations")
    )
    return checks.unionByName(fks).unionByName(pk)


# -- Exact-arithmetic Bloom filter (bit-position level) ------------------------
# The companion to warehouse_hll_sketch, for the second classic sketch:
# a Bloom filter whose ENTIRE state is value-identical across engines.
# The engine already demonstrates Spark's built-in runtime bloom
# pushdown (tpcds_bloom_semijoin, plan-asserted); this one builds the
# filter from first principles so the membership math itself is
# oracle-checked: k=3 salted md5 bit positions per key into m=4096
# bits, the filter is the DISTINCT position set (<= m rows — a Bloom
# filter is a GROUP BY in disguise, which is why it unions/shards for
# free), probes check every distinct position via a broadcast join
# against the bounded bit set, and the false-positive rate is measured
# against exact membership (a digest semi-join). All counts are integer;
# the only division is fp_count / nonmember_count on identical bigints.
_BLOOM_M = 4096
_BLOOM_K = 3

_BLOOM_SALTS = [f"b{j}" for j in range(_BLOOM_K)]


def _bloom_pos_duck(key: str, salt: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{salt}' || {key}), 1, 6) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


_BLOOM_ORACLE = f"""
WITH build_keys AS (
    SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
), probe_keys AS (
    SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 1
), bits AS (
    SELECT DISTINCT pos FROM build_keys,
    UNNEST([{", ".join(_bloom_pos_duck("text", s) for s in _BLOOM_SALTS)}]) t(pos)
), probe_pos AS (
    SELECT text, pos FROM (
        SELECT DISTINCT text, pos FROM probe_keys,
        UNNEST([{", ".join(_bloom_pos_duck("text", s) for s in _BLOOM_SALTS)}]) t(pos)
    )
), verdict AS (
    SELECT p.text,
           COUNT(*) AS n_pos,
           SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit,
           EXISTS (SELECT 1 FROM build_keys b WHERE b.text = p.text) AS is_member
    FROM probe_pos p LEFT JOIN bits ON p.pos = bits.pos
    GROUP BY p.text
)
SELECT {_BLOOM_M} AS m_bits, {_BLOOM_K} AS k_hashes,
       (SELECT COUNT(*) FROM build_keys) AS n_build,
       (SELECT COUNT(*) FROM bits) AS n_bits_set,
       COUNT(*) AS n_probe,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_member,
       CAST(SUM(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_positive,
       CAST(SUM(CASE WHEN n_hit = n_pos AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       ROUND(CAST(SUM(CASE WHEN n_hit = n_pos AND NOT is_member THEN 1 ELSE 0 END)
                  AS BIGINT)
             / NULLIF(CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END)
                           AS BIGINT), 0),
             6) AS fp_rate
FROM verdict
"""


@query(
    "warehouse_bloom_membership",
    tags=("sketch", "bloom", "documents", "extension"),
    oracle=_BLOOM_ORACLE,
)
def warehouse_bloom_membership(spark, sf_dir):
    """From-scratch Bloom filter with value-identical state across
    engines and a measured false-positive rate — see the block comment.
    The bit set is bounded by m (a literal), so the probe join
    broadcasts legitimately at any SF; exact membership is a distinct
    digest semi-join."""
    docs = table(spark, sf_dir, "documents")
    build_keys = docs.filter(F.col("doc_id") % 2 == 0).select("text").distinct()
    probe_keys = docs.filter(F.col("doc_id") % 2 == 1).select("text").distinct()

    def positions(df):
        pos = F.array(
            *[
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(s), F.col("text"))), 1, 6),
                    16,
                    10,
                ).cast("bigint")
                % _BLOOM_M
                for s in _BLOOM_SALTS
            ]
        )
        return df.select("text", F.explode(pos).alias("pos")).distinct()

    bits = positions(build_keys).select("pos").distinct()
    probe_pos = positions(probe_keys)
    hit = probe_pos.join(
        F.broadcast(bits.withColumn("_hit", F.lit(1))), "pos", "left"
    )
    member = probe_keys.join(build_keys, "text", "left_semi").withColumn(
        "_member", F.lit(True)
    )
    verdict = (
        hit.groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
        .join(member, "text", "left")
        .withColumn("is_member", F.coalesce(F.col("_member"), F.lit(False)))
    )
    n_build = build_keys.agg(F.count(F.lit(1)).alias("n_build"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    pos_flag = F.col("n_hit") == F.col("n_pos")
    out = verdict.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_member"),
        F.sum(F.when(pos_flag, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_positive"),
        F.sum(F.when(pos_flag & ~F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_positive"),
        F.sum(F.when(~F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("_n_nonmember"),
    )
    return (
        out.crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.lit(_BLOOM_M).alias("m_bits"),
            F.lit(_BLOOM_K).alias("k_hashes"),
            F.col("n_build").cast("bigint").alias("n_build"),
            F.col("n_bits_set").cast("bigint").alias("n_bits_set"),
            "n_probe",
            "n_member",
            "n_bloom_positive",
            "n_false_positive",
            # NULL (not NaN/inf) when every probe key is a member —
            # DuckDB's double division would otherwise produce NaN on a
            # zero denominator while Spark yields NULL (r7 advice).
            F.round(
                F.when(
                    F.col("_n_nonmember") > 0,
                    F.col("n_false_positive") / F.col("_n_nonmember"),
                ),
                6,
            ).alias("fp_rate"),
        )
    )
