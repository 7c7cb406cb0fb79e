"""DDL/DML/maintenance queries over the parquet-native managed table —
the reference's lakehouse surface (SURVEY.md §2.9) as oracle-checked
CORRECTNESS entries.

Each query materializes a managed table in a fresh temp directory, runs
the DML (MERGE / OPTIMIZE), and returns a deterministic projection of the
result or of the table metadata. The oracles recompute the same state
relationally in DuckDB (a MERGE-equivalent CTE; metadata counts derived
from the same source predicates), so manifest bookkeeping is value-checked,
not just row-counted.

References: MERGE IncrementalTPCDSBenchmark.scala:276-281,
MergeMicroBenchmark.scala:204-213; CTAS + count validation
TPCDSDataLoad.scala:91-129; OPTIMIZE IncrementalTPCDSBenchmark.scala:186-204;
DESCRIBE HISTORY/DETAIL MergeMicroBenchmark.scala:269-280.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from lhbench_spark.catalog import table
from lhbench_spark.functions.numeric import dsum, dsum_sql
from lhbench_spark.queries.registry import query
from lhbench_spark.tables import ManagedTable


def _files_scanned(t: ManagedTable, col: str, value) -> int:
    """Files of ``t``'s current version a point lookup ``col = value``
    must scan: those without stats on ``col`` or whose range holds it."""
    return sum(
        1
        for e in t.current.files
        if col not in e.stats or e.stats[col][0] <= value <= e.stats[col][1]
    )


def _tmp() -> str:
    # The returned DataFrame is collected by the caller AFTER this query
    # function returns, so the table directory must outlive the call —
    # never auto-deleted (OS tmp cleanup reclaims it).
    return tempfile.mkdtemp(prefix="lhbench_dml_") + "/t"


# Shared target/source definitions (Spark + DuckDB must agree exactly):
# target = a 25% modulo slice of orders; source = a 1/6 slice whose keys
# half-overlap the target (k ≡ 9 mod 12 matches, k ≡ 3 mod 12 inserts),
# price doubled, status 'M'. The slices are deliberately SMALL: every
# DML query measures commit machinery (touch detection, file-level CoW,
# manifest IO) whose cost is O(touched files + source), not fact-scan
# volume — and the suite pays each lifecycle every iteration. Scan-bound
# coverage lives in the join/agg families.
_TARGET_PRED = "o_orderkey % 4 = 1"
_SOURCE_PRED = "o_orderkey % 6 = 3"


def _target(spark, sf_dir):
    return table(spark, sf_dir, "orders").filter(F.expr(_TARGET_PRED))


def _source(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.expr(_SOURCE_PRED))
    return o.withColumn("o_totalprice", F.col("o_totalprice") * 2).withColumn(
        "o_orderstatus", F.lit("M")
    )


_MERGE_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
           o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_SOURCE_PRED}
), merged AS (
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price
FROM merged
GROUP BY o_orderstatus
"""


@query("merge_upsert", tags=("dml", "merge", "managed-table"), oracle=_MERGE_ORACLE)
def merge_upsert(spark, sf_dir):
    """MERGE INTO (WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *)
    on the parquet-native managed table, verified by aggregating the
    merged table state against a relational upsert CTE. File-level
    copy-on-write: only files containing matched keys are rewritten."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), cluster_by=("o_orderkey",), num_files=4
    )
    t.merge(_source(spark, sf_dir), on=["o_orderkey"])
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


_MOR_MERGE_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
           o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_SOURCE_PRED}
), merged AS (
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       0 AS files_rewritten
FROM merged
GROUP BY o_orderstatus
"""


@query(
    "acid_mor_merge",
    tags=("dml", "merge", "mor", "managed-table"),
    oracle=_MOR_MERGE_ORACLE,
)
def acid_mor_merge(spark, sf_dir):
    """MERGE on a merge-on-read table (the reference's CoW/MoR table-mode
    enum, IncrementalTPCDSBenchmark.scala:108,229-237): the merge APPENDS
    delta files and rewrites nothing — files_rewritten comes from the
    commit metrics and must be 0 — while the read-side latest-per-key
    resolve reproduces byte-identical state to the CoW upsert (same
    relational oracle as merge_upsert)."""
    t = ManagedTable.create(
        spark,
        _tmp(),
        _target(spark, sf_dir),
        cluster_by=("o_orderkey",),
        num_files=4,
        table_mode="mor",
        primary_keys=("o_orderkey",),
    )
    metrics = t.merge(_source(spark, sf_dir), on=["o_orderkey"])
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn(
            "files_rewritten", F.lit(int(metrics["files_rewritten"])).cast("int")
        )
    )


_HISTORY_ORACLE = f"""
WITH target AS (
    SELECT o_orderkey FROM orders WHERE {_TARGET_PRED}
), s1 AS (
    SELECT o_orderkey FROM orders WHERE {_SOURCE_PRED}
), s2 AS (
    SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0
), v1 AS (
    SELECT o_orderkey FROM target UNION SELECT o_orderkey FROM s1
)
SELECT 2 AS version, 'MERGE' AS operation,
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM v1
                              UNION SELECT o_orderkey FROM s2)) AS num_rows,
       (SELECT COUNT(*) FROM s2 WHERE o_orderkey IN (SELECT o_orderkey FROM v1))
           AS matched_updated,
       (SELECT COUNT(*) FROM s2 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM v1))
           AS inserted
UNION ALL
SELECT 1, 'MERGE',
       (SELECT COUNT(*) FROM v1),
       (SELECT COUNT(*) FROM s1 WHERE o_orderkey IN (SELECT o_orderkey FROM target)),
       (SELECT COUNT(*) FROM s1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target))
UNION ALL
SELECT 0, 'CREATE', (SELECT COUNT(*) FROM target), 0, 0
"""


@query(
    "acid_history_merges",
    tags=("dml", "history", "managed-table"),
    oracle=_HISTORY_ORACLE,
)
def acid_history_merges(spark, sf_dir):
    """DESCRIBE HISTORY after CREATE + two MERGEs: version, operation, and
    per-version row/matched/inserted counts, all derived from the manifest
    chain and cross-checked against relational set algebra."""
    # validate_count / validate_unique off: the load validation and the
    # duplicate-key guard are showcased (and oracle-checked) by
    # ctas_readback and merge_upsert; here the sources are unique by
    # construction and the extra counting jobs just slow the history path.
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), cluster_by=("o_orderkey",),
        num_files=4, validate_count=False,
    )
    t.merge(_source(spark, sf_dir), on=["o_orderkey"], validate_unique=False)
    s2 = table(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 5 = 0"))
    t.merge(s2, on=["o_orderkey"], validate_unique=False)
    return t.history().select(
        "version", "operation", "num_rows", "matched_updated", "inserted"
    )


_DETAIL_ORACLE = f"""
SELECT 1 AS version, 'OPTIMIZE' AS operation, 1 AS num_files,
       (SELECT COUNT(*) FROM orders WHERE {_TARGET_PRED}) AS num_rows
"""


@query(
    "acid_optimize_detail",
    tags=("dml", "optimize", "managed-table"),
    oracle=_DETAIL_ORACLE,
)
def acid_optimize_detail(spark, sf_dir):
    """OPTIMIZE (small-file compaction) + DESCRIBE DETAIL: 16 small files
    bin-packed into 1; row count unchanged (compaction moves bytes, never
    rows). num_files is deterministic because targeting is row-based."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), num_files=16, validate_count=False
    )
    t.optimize(target_file_rows=10_000_000)
    m = t.current
    return spark.createDataFrame(
        [(m.version, m.operation, len(m.files), m.num_rows)],
        "version INT, operation STRING, num_files INT, num_rows BIGINT",
    )


_TIME_TRAVEL_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
    FROM orders WHERE {_SOURCE_PRED}
), merged AS (
    SELECT t.o_orderkey,
           COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice
    FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, s.o_totalprice FROM source s
    WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
)
SELECT 0 AS version,
       (SELECT COUNT(*) FROM target) AS cnt,
       (SELECT {dsum_sql("o_totalprice")} FROM target) AS total_price
UNION ALL
SELECT 1,
       (SELECT COUNT(*) FROM merged),
       (SELECT {dsum_sql("o_totalprice")} FROM merged)
"""


@query(
    "acid_time_travel",
    tags=("dml", "time-travel", "managed-table"),
    oracle=_TIME_TRAVEL_ORACLE,
)
def acid_time_travel(spark, sf_dir):
    """Time travel: after a MERGE, version 0 still reads the exact
    pre-merge state (immutable data files + versioned manifests), while
    the current version reads the merged state. Both snapshots are
    value-checked in one result — the audit/reproducibility guarantee a
    lakehouse table carries (Delta VERSION AS OF analog)."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), cluster_by=("o_orderkey",),
        num_files=4, validate_count=False,
    )
    t.merge(_source(spark, sf_dir), on=["o_orderkey"], validate_unique=False)

    def snap(version):
        return t.read(version=version).agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        ).select(F.lit(version).alias("version"), "cnt", "total_price")

    return snap(0).unionByName(snap(t.current.version))


_CTAS_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       {dsum_sql("l_quantity")} AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
GROUP BY l_returnflag
"""


@query("ctas_readback", tags=("ddl", "ctas", "managed-table"), oracle=_CTAS_ORACLE)
def ctas_readback(spark, sf_dir):
    """CTAS (clustered, sorted, fixed file count) + row-count load
    validation + read-back aggregation — the TPCDSDataLoad.scala:91-129
    loop in miniature. The oracle aggregates the source directly, so any
    write→read fidelity loss (rows, values, types) fails the gate."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    t = ManagedTable.create(
        spark, _tmp(), li, cluster_by=("l_returnflag",), num_files=4
    )
    return (
        t.read()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("l_quantity").alias("sum_qty"))
    )


_DELETE_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), remaining AS (
    SELECT * FROM target WHERE NOT (o_totalprice > 150000)
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       (SELECT COUNT(*) FROM target WHERE o_totalprice > 150000) AS rows_deleted
FROM remaining
GROUP BY o_orderstatus
"""


@query("acid_delete_where", tags=("dml", "delete", "managed-table"), oracle=_DELETE_ORACLE)
def acid_delete_where(spark, sf_dir):
    """DELETE WHERE on the managed table (file-level copy-on-write: only
    files whose [min,max] actually contain a matching row are rewritten).
    The read-back aggregation value-checks the remaining rows AND the
    manifest's footer-derived rows_deleted metric in one result."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), cluster_by=("o_orderkey",),
        num_files=4, validate_count=False,
    )
    metrics = t.delete("o_totalprice > 150000")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("rows_deleted", F.lit(metrics["rows_deleted"]).cast("bigint"))
    )


_UPDATE_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), updated AS (
    SELECT o_orderstatus,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
           o_orderpriority
    FROM target
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       (SELECT COUNT(*) FROM target WHERE o_orderpriority = '1-URGENT')
           AS rows_updated
FROM updated
GROUP BY o_orderstatus
"""


@query("acid_update_where", tags=("dml", "update", "managed-table"), oracle=_UPDATE_ORACLE)
def acid_update_where(spark, sf_dir):
    """UPDATE SET ... WHERE on the managed table: assignment RHS evaluated
    against the old row, copy-on-write rewrite of touched files only.
    Per-row double multiply is IEEE-exact cross-engine; the decimal-exact
    sum makes the aggregate hash-stable."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), cluster_by=("o_orderkey",),
        num_files=4, validate_count=False,
    )
    metrics = t.update(
        {"o_totalprice": "o_totalprice * 1.1"}, "o_orderpriority = '1-URGENT'"
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("rows_updated", F.lit(metrics["rows_updated"]).cast("bigint"))
    )


_APPEND_EVOLVE_ORACLE = f"""
WITH base AS (
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS batch_tag
    FROM orders WHERE {_TARGET_PRED}
), appended AS (
    SELECT o_orderkey, o_totalprice * 0.5 AS o_totalprice, 'b1' AS batch_tag
    FROM orders WHERE {_SOURCE_PRED}
), unioned AS (
    SELECT * FROM base UNION ALL SELECT * FROM appended
)
SELECT COALESCE(batch_tag, '-') AS batch_tag,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price
FROM unioned
GROUP BY 1
"""


@query(
    "acid_append_evolve",
    tags=("dml", "append", "schema-evolution", "managed-table"),
    oracle=_APPEND_EVOLVE_ORACLE,
)
def acid_append_evolve(spark, sf_dir):
    """Append-mode write with additive schema evolution: the appended
    batch carries a NEW column (batch_tag); pre-evolution rows surface it
    as NULL via parquet schema merging. Nothing is rewritten — append is
    O(new data) regardless of table size."""
    base = _target(spark, sf_dir).select("o_orderkey", "o_totalprice")
    t = ManagedTable.create(spark, _tmp(), base, num_files=2, validate_count=False)
    batch = (
        table(spark, sf_dir, "orders")
        .filter(F.expr(_SOURCE_PRED))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 0.5).alias("o_totalprice"),
            F.lit("b1").alias("batch_tag"),
        )
    )
    t.append(batch, merge_schema=True)
    return (
        t.read()
        .groupBy(F.coalesce("batch_tag", F.lit("-")).alias("batch_tag"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


_ZORDER_ORACLE = """
SELECT (SELECT COUNT(*) FROM orders WHERE o_custkey = 42) AS cust_cnt,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey = 1024) AS key_cnt,
       TRUE AS cust_pruned,
       TRUE AS key_pruned
"""


@query(
    "acid_zorder_skipping",
    tags=("ddl", "zorder", "data-skipping", "managed-table"),
    oracle=_ZORDER_ORACLE,
)
def acid_zorder_skipping(spark, sf_dir):
    """Z-order clustering (Delta OPTIMIZE ZORDER BY analog): the table is
    written sorted by the bit-interleaved Z-value of (o_custkey,
    o_orderkey), giving every file tight min/max stats on BOTH columns —
    manifest skipping then prunes files for predicates on EITHER column.
    The result value-checks the pruned reads' counts against the raw
    source (skipping must never lose rows) and pins that both prunes
    actually skipped files (linear clustering can only serve its leading
    column — the booleans would flip FALSE)."""
    t = ManagedTable.create(
        spark,
        _tmp(),
        table(spark, sf_dir, "orders"),
        num_files=16,
        zorder_by=("o_custkey", "o_orderkey"),
        validate_count=False,
    )
    total = len(t.current.files)

    cust_cnt = (
        t.read(prune={"o_custkey": 42})
        .filter(F.col("o_custkey") == 42)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    key_cnt = (
        t.read(prune={"o_orderkey": 1024})
        .filter(F.col("o_orderkey") == 1024)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cust_cnt.select(F.col("c").alias("cust_cnt"))
        .crossJoin(key_cnt.select(F.col("c").alias("key_cnt")))
        .withColumn("cust_pruned", F.lit(_files_scanned(t, "o_custkey", 42) < total))
        .withColumn("key_pruned", F.lit(_files_scanned(t, "o_orderkey", 1024) < total))
    )


_VACUUM_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
           o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_SOURCE_PRED}
), merged AS (
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
)
SELECT (SELECT COUNT(*) FROM merged) AS cnt,
       (SELECT {dsum_sql("o_totalprice")} FROM merged) AS total_price,
       TRUE AS files_removed_some,
       TRUE AS time_travel_expired
"""


@query(
    "acid_vacuum_retention",
    tags=("dml", "vacuum", "managed-table"),
    oracle=_VACUUM_ORACLE,
)
def acid_vacuum_retention(spark, sf_dir):
    """VACUUM (retention cleanup, Delta analog): after CREATE + MERGE,
    vacuuming to the current version deletes exactly the data files that
    only the pre-merge version referenced and drops its manifest — while
    the current version's data stays byte-identical (value-checked
    against the relational upsert). Time travel to the vacuumed version
    must now fail: retention trades history for storage, and the query
    pins that the trade actually happened."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir), cluster_by=("o_orderkey",),
        num_files=4, validate_count=False,
    )
    t.merge(_source(spark, sf_dir), on=["o_orderkey"], validate_unique=False)
    metrics = t.vacuum(retain_versions=1)
    expired = False
    try:
        t.read(version=0)
    except KeyError:
        expired = True
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("files_removed_some", F.lit(metrics["files_removed"] > 0))
        .withColumn("time_travel_expired", F.lit(expired))
    )


# Change-data-feed derivation in pure SQL: inserts = source keys absent
# from the target; updates = matched keys (every matched row genuinely
# changes: o_orderstatus flips to 'M'); deletes = rows of the MERGED
# state hit by the delete predicate.
_CDF_DELETE_PRED = "o_orderkey % 10 = 1"

_CDF_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey FROM orders WHERE {_SOURCE_PRED}
), matched AS (
    SELECT o_orderkey FROM source
    WHERE o_orderkey IN (SELECT o_orderkey FROM target)
), inserted AS (
    SELECT o_orderkey FROM source
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target)
), merged AS (
    SELECT o_orderkey FROM target UNION SELECT o_orderkey FROM source
), deleted AS (
    SELECT o_orderkey FROM merged WHERE {_CDF_DELETE_PRED}
)
SELECT * FROM (
    SELECT 'insert' AS change_type, 1 AS commit_version,
           COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM inserted
    UNION ALL
    SELECT 'update_postimage', 1, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM matched
    UNION ALL
    SELECT 'update_preimage', 1, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM matched
    UNION ALL
    SELECT 'delete', 2, COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
    FROM deleted
) WHERE cnt > 0
"""


@query(
    "cdc_change_feed",
    tags=("dml", "cdf", "managed-table", "incremental"),
    oracle=_CDF_ORACLE,
)
def cdc_change_feed(spark, sf_dir):
    """Change-data-feed (Delta CDF analog): after CREATE → MERGE →
    DELETE, ``changes(0)`` replays the row-level deltas from the
    manifest's file diffs alone — scan cost O(changed files), no
    commit-time bookkeeping — and the per-commit insert / update-pre /
    update-post / delete counts and key sums must equal the relational
    derivation from the same predicates. This is the read side an
    incremental training-data pipeline consumes instead of re-reading
    the table."""
    # num_files without cluster_by: round-robin repartition, no range-
    # sampling job per write — the CoW narrow-rewrite demo lives in
    # merge_upsert/acid_history_merges; here the subject is the CDF.
    t = ManagedTable.create(
        spark,
        _tmp(),
        _target(spark, sf_dir),
        num_files=4,
        primary_keys=("o_orderkey",),
        validate_count=False,
    )
    t.merge(_source(spark, sf_dir), on=["o_orderkey"], validate_unique=False)
    t.delete(_CDF_DELETE_PRED)
    return (
        t.changes(0)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            F.col("_commit_version").alias("commit_version"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        )
    )


# Incremental view maintenance: a day/status rollup of the table is
# maintained by APPLYING the change feed (post-images add, pre-images and
# deletes retract) instead of recomputing from the full table. The oracle
# recomputes the rollup directly from the merged-then-deleted final state
# — if the delta algebra drops or double-counts anything, the compare
# fails.
_IVM_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
           o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_SOURCE_PRED}
), merged AS (
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
), final AS (
    SELECT * FROM merged WHERE NOT ({_CDF_DELETE_PRED})
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price
FROM final
GROUP BY o_orderstatus
"""


@query(
    "cdc_incremental_rollup",
    tags=("dml", "cdf", "ivm", "incremental", "managed-table"),
    oracle=_IVM_ORACLE,
)
def cdc_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance over the change feed: the per-status
    rollup is seeded from the CREATE state, then UPDATED by aggregating
    ``changes(0)`` with signed weights (+1 insert/update-post, -1
    update-pre/delete) — never re-reading the table. At 100 TB this is
    the difference between touching O(changed files) per refresh and
    recomputing an O(table) aggregate; the oracle recomputes the rollup
    from the final state directly, so any dropped or double-counted
    delta fails the compare. Decimal-exact sums make the add/retract
    algebra associative (float retraction would drift)."""
    t = ManagedTable.create(
        spark,
        _tmp(),
        _target(spark, sf_dir),
        num_files=4,
        primary_keys=("o_orderkey",),
        validate_count=False,
    )
    seed = (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,8)")).alias("price_dec"),
        )
    )
    t.merge(_source(spark, sf_dir), on=["o_orderkey"], validate_unique=False)
    t.delete(_CDF_DELETE_PRED)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        t.changes(0)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(sign).cast("bigint").alias("cnt"),
            F.sum(
                sign.cast("decimal(18,8)") * F.col("o_totalprice").cast("decimal(18,8)")
            ).alias("price_dec"),
        )
    )
    merged = (
        seed.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("price_dec").alias("price_dec"),
        )
        .filter(F.col("cnt") > 0)
    )
    return merged.select(
        "o_orderstatus",
        "cnt",
        F.col("price_dec").cast("double").alias("total_price"),
    )


_RESTORE_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       CAST(2 AS INT) AS version,
       'RESTORE' AS operation
FROM orders WHERE {_TARGET_PRED}
GROUP BY o_orderstatus
"""


@query(
    "acid_restore",
    tags=("dml", "restore", "time-travel", "managed-table"),
    oracle=_RESTORE_ORACLE,
)
def acid_restore(spark, sf_dir):
    """RESTORE TO VERSION (Delta RESTORE analog): create → DELETE a
    slice → restore(0). The restored state must equal version 0 exactly
    (the oracle recomputes it from the source), while the log has grown
    to version 2 with operation RESTORE — restore appends to history, it
    never rewinds it. Zero data copy: the restore commit references the
    v0 files."""
    root = _tmp()
    t = ManagedTable.create(
        spark, root, _target(spark, sf_dir), cluster_by=("o_orderkey",),
        num_files=4, primary_keys=("o_orderkey",),
    )
    t.delete("o_orderkey % 5 = 0")
    t.restore(0)
    m = t.current
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("version", F.lit(m.version).cast("int"))
        .withColumn("operation", F.lit(m.operation))
    )


# CDC-apply working set: a modulo slice of orders (~12.5%) — the point
# is the 6-commit lifecycle + feed replay, not fact-scan volume; the
# suite pays for this query every iteration.
_CDC_TARGET_PRED = "o_orderkey % 16 = 1"
_CDC_SOURCE_PRED = "o_orderkey % 32 = 1"

_APPLY_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_CDC_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
           o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_CDC_SOURCE_PRED}
), merged AS (
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
), final AS (
    SELECT * FROM merged WHERE o_orderkey % 5 <> 1
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price
FROM final GROUP BY o_orderstatus
"""


@query(
    "cdc_apply_replica",
    tags=("dml", "cdc", "replica", "managed-table"),
    oracle=_APPLY_ORACLE,
)
def cdc_apply_replica(spark, sf_dir):
    """CDC round trip (the consumer side of the change feed): replica B
    is created from source A's v0 snapshot; A then runs a MERGE and a
    DELETE; ONE apply_changes(A.changes(0)) call syncs B. The oracle
    recomputes A's final state relationally — B must match it exactly,
    proving feed production AND replay are both lossless. B never reads
    A's table, only the O(changed-rows) feed."""
    a_root, b_root = _tmp(), _tmp()
    tgt = table(spark, sf_dir, "orders").filter(F.expr(_CDC_TARGET_PRED))
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.expr(_CDC_SOURCE_PRED))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("o_orderstatus", F.lit("M"))
    )
    a = ManagedTable.create(
        spark, a_root, tgt, cluster_by=("o_orderkey",),
        num_files=2, primary_keys=("o_orderkey",),
    )
    # the replica starts as a zero-copy shallow clone of A@v0 — one
    # manifest write, no data movement; from then on it only ever sees
    # the feed
    b = a.clone(b_root)
    a.merge(src, on=["o_orderkey"], validate_unique=False)
    a.delete("o_orderkey % 5 = 1")
    b.apply_changes(a.changes(from_version=0))
    return b.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("total_price"),
    )


_ZORDER_RECLUSTER_ORACLE = """
SELECT (SELECT COUNT(*) FROM orders WHERE o_custkey = 42) AS cust_cnt,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey = 1024) AS key_cnt,
       (SELECT COUNT(*) FROM orders) AS total_cnt,
       TRUE AS cust_pruned,
       TRUE AS key_pruned,
       'OPTIMIZE' AS operation
"""


@query(
    "acid_zorder_recluster",
    tags=("dml", "zorder", "optimize", "data-skipping", "managed-table"),
    oracle=_ZORDER_RECLUSTER_ORACLE,
)
def acid_zorder_recluster(spark, sf_dir):
    """POST-HOC OPTIMIZE ZORDER BY (the Delta shape — reclusters an
    EXISTING table, where acid_zorder_skipping clusters the initial
    load): the table starts key-clustered, then zorder() rewrites it on
    the interleaved (o_custkey, o_orderkey) Z-value in one OPTIMIZE
    commit. Afterwards manifest pruning must skip files for predicates
    on EITHER column, no row may be lost (total count value-checked),
    and the commit must be an OPTIMIZE version on top of the original."""
    t = ManagedTable.create(
        spark, _tmp(), table(spark, sf_dir, "orders"),
        cluster_by=("o_orderkey",), num_files=16, validate_count=False,
    )
    t.zorder(("o_custkey", "o_orderkey"), num_files=16)
    total = len(t.current.files)

    cust_cnt = (
        t.read(prune={"o_custkey": 42})
        .filter(F.col("o_custkey") == 42)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    key_cnt = (
        t.read(prune={"o_orderkey": 1024})
        .filter(F.col("o_orderkey") == 1024)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total_cnt = t.read().agg(F.count(F.lit(1)).alias("tc"))
    return (
        cust_cnt.select(F.col("c").alias("cust_cnt"))
        .crossJoin(key_cnt.select(F.col("c").alias("key_cnt")))
        .crossJoin(total_cnt.select(F.col("tc").alias("total_cnt")))
        .withColumn("cust_pruned", F.lit(_files_scanned(t, "o_custkey", 42) < total))
        .withColumn("key_pruned", F.lit(_files_scanned(t, "o_orderkey", 1024) < total))
        .withColumn("operation", F.lit(t.current.operation))
    )


# -- MoR deletion vectors ------------------------------------------------------
# The tombstone lifecycle end-to-end: upsert deltas, DELETE as a
# pk-only deletion-vector commit (zero rewrites — Delta's deletion
# vectors / Iceberg's delete files at key granularity), then a later
# MERGE that RESURRECTS a tombstoned key subset (latest-per-key: the
# newer delta supersedes the tombstone). Key classes by construction:
# target keys ≡ 1 (mod 4); the delete hides the ≡ 5 (mod 8) half;
# the resurrection source is ≡ 21 (mod 24) ⊂ deleted (21 ≡ 5 mod 8).
_MOR_DV_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source1 AS (
    SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
           o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_SOURCE_PRED}
), state1 AS (
    SELECT * FROM source1
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source1 s WHERE s.o_orderkey = t.o_orderkey)
), state2 AS (
    SELECT * FROM state1 WHERE NOT (o_orderkey % 8 = 5)
), source2 AS (
    SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
           o_totalprice * 3 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 24 = 21
), state3 AS (
    SELECT * FROM source2
    UNION ALL
    SELECT t.* FROM state2 t
    WHERE NOT EXISTS (SELECT 1 FROM source2 s WHERE s.o_orderkey = t.o_orderkey)
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       0 AS files_rewritten
FROM state3
GROUP BY o_orderstatus
"""


@query(
    "acid_mor_delete_vectors",
    tags=("dml", "delete", "mor", "deletion-vector", "managed-table"),
    oracle=_MOR_DV_ORACLE,
)
def acid_mor_delete_vectors(spark, sf_dir):
    """Deletion-vector lifecycle on a merge-on-read table: upsert →
    DELETE WHERE as a pk-only TOMBSTONE commit (write cost O(deleted
    keys), files_rewritten must stay 0 across all three ops) →
    a later MERGE resurrects a tombstoned key subset (the newer delta
    wins the latest-per-key resolve over the tombstone). The read-back
    aggregation value-checks the resolved state; the oracle replays the
    same three ops relationally."""
    t = ManagedTable.create(
        spark,
        _tmp(),
        _target(spark, sf_dir),
        cluster_by=("o_orderkey",),
        num_files=4,
        table_mode="mor",
        primary_keys=("o_orderkey",),
    )
    m1 = t.merge(_source(spark, sf_dir), on=["o_orderkey"])
    m2 = t.delete("o_orderkey % 8 = 5")
    resurrect = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 24 = 21")
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .withColumn("o_orderstatus", F.lit("R"))
    )
    m3 = t.merge(resurrect, on=["o_orderkey"])
    rewrites = int(m1["files_rewritten"]) + int(m2["files_rewritten"]) + int(
        m3["files_rewritten"]
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("files_rewritten", F.lit(rewrites).cast("int"))
    )


# -- MERGE full sync (WHEN NOT MATCHED BY SOURCE DELETE) -----------------------
# Delta's third merge clause, scope-bounded the way real snapshot-apply
# pipelines run it: inside the scope the target becomes EXACTLY the
# source (matched → update, source-only → insert, target-only →
# delete); outside the scope nothing is touched. Source keys: the
# surviving ≡ 1 (mod 4) slice (update) plus a fresh ≡ 2 (mod 4) slice
# (insert), both thinned by dropping ≡ 0 (mod 3) keys (those become the
# scope's deletes); scope = post-1998 order dates (the generated domain is 1995-2001, so the scope splits it).
_FULL_SYNC_SCOPE = "o_orderdate >= DATE '1998-01-01'"
_FULL_SYNC_SRC_PRED = (
    f"(o_orderkey % 4 = 1 OR o_orderkey % 4 = 2) AND {_FULL_SYNC_SCOPE} "
    "AND o_orderkey % 3 <> 0"
)

_FULL_SYNC_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), source AS (
    SELECT o_orderkey, o_custkey, 'S' AS o_orderstatus,
           o_totalprice + 1 AS o_totalprice, o_orderdate, o_orderpriority
    FROM orders WHERE {_FULL_SYNC_SRC_PRED}
), synced AS (
    SELECT * FROM source
    UNION ALL
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
      AND NOT ({_FULL_SYNC_SCOPE})
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       (SELECT COUNT(*) FROM target t
        WHERE {_FULL_SYNC_SCOPE}
          AND NOT EXISTS (SELECT 1 FROM source s
                          WHERE s.o_orderkey = t.o_orderkey))
           AS deleted_nmbs
FROM synced
GROUP BY o_orderstatus
"""


@query(
    "acid_merge_full_sync",
    tags=("dml", "merge", "full-sync", "not-matched-by-source", "managed-table"),
    oracle=_FULL_SYNC_ORACLE,
)
def acid_merge_full_sync(spark, sf_dir):
    """MERGE with WHEN NOT MATCHED BY SOURCE DELETE (the snapshot-apply
    shape), bounded by a scope predicate: inside post-1998 dates the
    table becomes exactly the source snapshot (updates + inserts +
    deletes), pre-1998 rows are untouched and their files never rewrite.
    The read-back aggregation value-checks the synced state AND the
    commit's deleted_not_matched_by_source metric against the oracle's
    relational replay."""
    t = ManagedTable.create(
        spark,
        _tmp(),
        _target(spark, sf_dir),
        cluster_by=("o_orderkey",),
        num_files=4,
        validate_count=False,
    )
    snapshot = (
        table(spark, sf_dir, "orders")
        .filter(_FULL_SYNC_SRC_PRED)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn("o_orderstatus", F.lit("S"))
    )
    metrics = t.merge(
        snapshot,
        on=["o_orderkey"],
        when_not_matched_by_source="delete",
        source_scope=_FULL_SYNC_SCOPE,
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn(
            "deleted_nmbs",
            F.lit(metrics["deleted_not_matched_by_source"]).cast("bigint"),
        )
    )


# -- ALTER CLUSTER BY (layout-spec evolution) ----------------------------------
# Iceberg's partition-spec evolution, for this format's clustering
# layout: the alter is METADATA-ONLY (zero rewrites), files written
# after it carry tight [min,max] stats on the NEW key, and file-skip
# reads prune each file by whatever stats it has — old files skip only
# when their true (universal-stats) range excludes the probe, so a
# matching row can never be skipped; new files skip tightly. The oracle
# value-checks the synced data; the pruning evidence rides as boolean
# columns computed from the manifest + input_file_name scan counts
# (the agg_sketches boolean-gate pattern).
_CLUSTER_EVO_ORACLE = f"""
WITH combined AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
    UNION ALL
    SELECT * FROM orders WHERE o_orderkey % 4 = 2
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       TRUE AS alter_was_metadata_only,
       TRUE AS new_files_pruned,
       TRUE AS no_false_skip
FROM combined
GROUP BY o_orderstatus
"""


@query(
    "acid_cluster_evolution",
    tags=("ddl", "alter", "cluster-evolution", "managed-table"),
    oracle=_CLUSTER_EVO_ORACLE,
)
def acid_cluster_evolution(spark, sf_dir):
    """ALTER TABLE CLUSTER BY lifecycle: create clustered by order key,
    evolve the layout spec to the customer key (metadata-only commit),
    append a second slice under the new spec, then prune-read on a
    customer-key value — the new-spec files skip on their tight new-key
    ranges, old files skip only when their (universal-stats) TRUE range
    excludes the probe — so the pruned read still contains every
    matching row (never a false skip), and the full read-back aggregate
    value-checks both slices."""
    t = ManagedTable.create(
        spark,
        _tmp(),
        _target(spark, sf_dir),
        cluster_by=("o_orderkey",),
        num_files=4,
        validate_count=False,
    )
    n_old = len(t.current.files)
    alter = t.set_cluster_by(("o_custkey",))
    slice2 = table(spark, sf_dir, "orders").filter("o_orderkey % 4 = 2")
    t.append(slice2, num_files=4)
    probe = slice2.agg(F.min("o_custkey")).collect()[0][0]
    n_total = len(t.current.files)
    pruned = t.read(prune={"o_custkey": probe})
    n_scanned = pruned.select(F.input_file_name()).distinct().count()
    n_probe_pruned = pruned.filter(F.col("o_custkey") == probe).count()
    n_probe_full = t.read().filter(F.col("o_custkey") == probe).count()
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn(
            "alter_was_metadata_only",
            F.lit(alter["files_rewritten"] == 0 and alter["files_carried"] == n_old),
        )
        .withColumn("new_files_pruned", F.lit(n_scanned < n_total))
        .withColumn("no_false_skip", F.lit(n_probe_pruned == n_probe_full))
    )


# -- Idempotent transactional appends (round 9) -------------------------------
# Delta's txnAppId/txnVersion writer contract: the manifest carries a
# per-app-id high-water ledger, a replayed (app, version) append is a
# no-op, and a BLIND append that loses the commit race rebases onto the
# winner instead of surfacing a conflict (appends read no snapshot
# state — the Delta/Iceberg "appends never conflict" class; snapshot-
# dependent DML still raises). This is the exactly-once foundation a
# foreachBatch streaming sink stands on (continuous_sink_table passes
# the stream's batch_id here; tests/test_streaming.py replays a whole
# drain from a fresh checkpoint).

_TXN_ORACLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       TRUE AS replays_skipped,
       TRUE AS rebase_committed
FROM orders
GROUP BY o_orderstatus
"""


@query(
    "acid_txn_idempotent_sink",
    tags=("dml", "append", "txn", "exactly-once", "managed-table"),
    oracle=_TXN_ORACLE,
)
def acid_txn_idempotent_sink(spark, sf_dir):
    """Transactional append lifecycle: three txn-tagged batches land
    once each under replay (every re-offered (app, version) skips), a
    STALE handle's blind append auto-rebases past the commits it lost
    the race to, and the final read-back must equal the full relational
    union — so the ledger semantics and the rebase path are both
    value-checked."""
    orders = table(spark, sf_dir, "orders")
    t = ManagedTable.create(
        spark, _tmp(), orders.filter("o_orderkey % 4 = 1"),
        num_files=2, validate_count=False,
    )
    stale = ManagedTable(spark, t.root)  # loads v0, goes stale below
    skipped = 0
    for ver, pred in enumerate(["o_orderkey % 4 = 2", "o_orderkey % 4 = 3"]):
        batch = orders.filter(pred)
        t.append(batch, num_files=2, txn_app_id="ingest", txn_version=ver)
        m = t.append(batch, num_files=2, txn_app_id="ingest", txn_version=ver)
        skipped += m.get("skipped_txn", 0)
    # replay of the whole ledger range on a FRESH handle (crash-restart)
    fresh = ManagedTable(spark, t.root)
    for ver, pred in enumerate(["o_orderkey % 4 = 2", "o_orderkey % 4 = 3"]):
        m = fresh.append(
            orders.filter(pred), num_files=2,
            txn_app_id="ingest", txn_version=ver,
        )
        skipped += m.get("skipped_txn", 0)
    # the stale v0 handle blind-appends the last slice: three commits
    # behind, it must rebase internally and still land exactly once
    m_rebase = stale.append(orders.filter("o_orderkey % 4 = 0"), num_files=2)
    final = ManagedTable(spark, t.root)
    return (
        final.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("replays_skipped", F.lit(skipped == 4))
        .withColumn(
            "rebase_committed",
            F.lit(m_rebase["rows_appended"] > 0 and final.current.version == 3),
        )
    )


# -- Universal-stats ingest-time skipping (round 9) ---------------------------
# Per-file stats now cover EVERY stat-able column (Delta's
# dataSkippingNumIndexedCols analog), so the append-in-time-order
# ingest pattern gets time-slice file skipping WITHOUT any partitioning
# or clustering on the date: each appended slice's files carry a tight
# o_orderdate range in the manifest, and read(prune=…) drops the other
# slices' files at planning time. The probe aggregates only rows AT the
# probed value, which pruning can never lose (stats are true ranges) —
# so the result is SQL-expressible while the skipping evidence rides as
# booleans (the agg_sketches boolean-gate pattern).

_STATS_SKIP_ORACLE = f"""
WITH probe AS (
    SELECT MAX(o_orderdate) AS d FROM orders
    WHERE o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {dsum_sql("o_totalprice")} AS total_price,
       TRUE AS files_skipped,
       TRUE AS no_false_skip
FROM orders, probe
WHERE o_orderdate = probe.d
GROUP BY o_orderstatus
"""


@query(
    "acid_stats_time_skipping",
    tags=("dml", "stats", "data-skipping", "ingest", "managed-table"),
    oracle=_STATS_SKIP_ORACLE,
)
def acid_stats_time_skipping(spark, sf_dir):
    """Time-ordered ingest + universal column stats = partition-free
    time skipping: load 1995-96, append 1997-98 / 1999-2000 / 2001 as
    separate commits, then prune-read at one timestamp — only the
    owning slice's files scan, and every row at the probed value
    survives (true ranges never false-skip)."""
    orders = table(spark, sf_dir, "orders")
    slices = [
        "o_orderdate < TIMESTAMP '1997-01-01'",
        "o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'",
        "o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2001-01-01'",
        "o_orderdate >= TIMESTAMP '2001-01-01'",
    ]
    t = ManagedTable.create(
        spark, _tmp(), orders.filter(slices[0]),
        num_files=2, validate_count=False,
    )
    for pred in slices[1:]:
        t.append(orders.filter(pred), num_files=2)
    probe = (
        orders.filter("o_orderdate < TIMESTAMP '1997-01-01'")
        .agg(F.max("o_orderdate"))
        .collect()[0][0]
    )
    # The probe is the max of slice 0 — which is exactly the largest
    # o_orderdate hi-stat among the version-0 files. Pruning with THAT
    # manifest realization (not a Python .isoformat(), whose tz
    # awareness / session-tz shift can diverge from the pyarrow footer
    # realization) keeps the range compare stat-vs-stat: every lo/hi it
    # meets came through the same _stat_value path, and the stats
    # evaluator compares them as instants widened by its ±26h slack, so
    # the check never false-skips in any session timezone.
    probe_stat = max(
        e.stats["o_orderdate"][1]
        for e in t.version_manifest(0).files
        if "o_orderdate" in e.stats
    )
    pruned = t.read(prune={"o_orderdate": probe_stat})
    n_scanned = pruned.select(F.input_file_name()).distinct().count()
    n_total = len(t.current.files)
    at_probe = pruned.filter(F.col("o_orderdate") == F.lit(probe))
    n_full = t.read().filter(F.col("o_orderdate") == F.lit(probe)).count()
    return (
        at_probe.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("total_price"),
        )
        .withColumn("files_skipped", F.lit(n_scanned < n_total))
        .withColumn("no_false_skip", F.lit(at_probe.count() == n_full))
    )


# -- Files metadata relation (round 9) ----------------------------------------
# The Iceberg `.files` / Delta add-actions metadata table: per-file
# kind, footer row count, and stats coverage straight from the
# manifest — O(manifest) cost, no data IO. The oracle recomputes the
# per-kind row sums relationally (file COUNTS are deterministic here:
# create pins num_files, a MoR DELETE commits exactly one tombstone).

_FILES_META_ORACLE = f"""
WITH target AS (
    SELECT * FROM orders WHERE {_TARGET_PRED}
), del AS (
    SELECT * FROM target WHERE o_custkey % 10 = 3
)
SELECT 'data' AS kind, CAST(4 AS BIGINT) AS n_files,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM target) AS rows_sum,
       TRUE AS stats_cover_key
UNION ALL
SELECT 'tombstone', CAST(1 AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM del), TRUE
"""


@query(
    "acid_files_metadata",
    tags=("dml", "metadata", "files", "managed-table"),
    oracle=_FILES_META_ORACLE,
)
def acid_files_metadata(spark, sf_dir):
    """files_df() metadata relation over a MoR lifecycle: after a
    create (4 pinned data files) and a deletion-vector DELETE (exactly
    one pk-only tombstone), the per-kind file counts and footer row
    sums must match the relational recompute, and every file must carry
    manifest stats on the table key (universal column stats)."""
    t = ManagedTable.create(
        spark, _tmp(), _target(spark, sf_dir),
        cluster_by=("o_orderkey",), num_files=4,
        table_mode="mor", primary_keys=("o_orderkey",),
        validate_count=False,
    )
    t.delete("o_custkey % 10 = 3")
    f = t.files_df()
    return (
        f.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("num_rows").alias("rows_sum"),
            F.min(
                F.array_contains("stat_cols", "o_orderkey").cast("int")
            ).cast("boolean").alias("stats_cover_key"),
        )
    )
