"""Workload-level tests for the parquet-native managed table — the
reference-shaped e2e mechanics (SURVEY.md §5.3): load→count-assert,
merge→expected matched/inserted counts, compaction→file-count decrease,
history→version increments, time travel, manifest-side file skipping.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from lhbench_spark.tables import LakeCatalog, ManagedTable


@pytest.fixture()
def tdir():
    with tempfile.TemporaryDirectory(prefix="lhbench_tbl_") as d:
        yield d


def _base_df(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("key"),
        (F.col("id") % 7).alias("part"),
        (F.col("id") * 2.5).alias("value"),
        F.concat(F.lit("row-"), F.col("id")).alias("tag"),
    )


def test_create_validates_and_reads_back(spark, tdir):
    df = _base_df(spark)
    t = ManagedTable.create(spark, f"{tdir}/t1", df, num_files=4)
    assert t.current.version == 0
    assert t.current.operation == "CREATE"
    assert len(t.current.files) == 4
    got = t.read()
    assert got.count() == 1000
    assert sorted(got.columns) == sorted(df.columns)


def test_create_rejects_existing(spark, tdir):
    ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 10))
    with pytest.raises(FileExistsError):
        ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 10))
    # overwrite mode replaces
    t = ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 20), mode="overwrite")
    assert t.read().count() == 20


def test_merge_upsert_semantics(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 1000), num_files=4)
    # source: update keys 0..499 (even half exists), insert 1000..1099
    source = spark.range(0, 500).union(spark.range(1000, 1100)).select(
        F.col("id").alias("key"),
        (F.col("id") % 7).alias("part"),
        F.lit(-1.0).alias("value"),
        F.lit("merged").alias("tag"),
    )
    metrics = t.merge(source, on=["key"])
    assert metrics["matched_updated"] == 500
    assert metrics["inserted"] == 100

    got = t.read()
    assert got.count() == 1100
    assert got.filter(F.col("tag") == "merged").count() == 600
    # untouched rows keep original values
    keep = got.filter((F.col("key") >= 500) & (F.col("key") < 1000))
    assert keep.filter(F.col("tag") == "merged").count() == 0
    assert t.current.operation == "MERGE"
    assert t.current.version == 1


def test_merge_rewrites_only_touched_files(spark, tdir):
    # cluster on key so each file holds a key range; a narrow update set
    # must leave most files untouched (file-level CoW, not table rewrite)
    t = ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, 1000), cluster_by=("key",), num_files=8
    )
    source = _base_df(spark, 1000).filter(F.col("key") < 5).withColumn(
        "tag", F.lit("touched")
    )
    metrics = t.merge(source, on=["key"])
    assert metrics["matched_updated"] == 5
    assert metrics["files_rewritten"] < 8, "narrow merge rewrote every file"
    assert t.read().filter(F.col("tag") == "touched").count() == 5


def test_optimize_compacts_small_files(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 1000), num_files=16)
    assert len(t.current.files) == 16
    metrics = t.optimize(target_file_rows=1000)
    assert metrics["files_removed"] == 16
    assert metrics["files_added"] == 1
    assert t.current.operation == "OPTIMIZE"
    assert t.read().count() == 1000  # no data change


def test_history_and_detail_and_time_travel(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 100), num_files=2)
    src = _base_df(spark, 120).withColumn("tag", F.lit("v1"))
    t.merge(src, on=["key"])
    src2 = _base_df(spark, 130).withColumn("tag", F.lit("v2"))
    t.merge(src2, on=["key"])

    hist = t.history().collect()
    assert [r["operation"] for r in hist] == ["MERGE", "MERGE", "CREATE"]
    assert [r["version"] for r in hist] == [2, 1, 0]
    assert hist[1]["matched_updated"] == 100
    assert hist[1]["inserted"] == 20
    assert hist[0]["matched_updated"] == 120
    assert hist[0]["inserted"] == 10

    d = t.detail().collect()[0]
    assert d["num_rows"] == 130
    assert d["num_files"] == len(t.current.files)

    # time travel: version 0 still has the original 100 rows
    assert t.read(version=0).count() == 100
    assert t.read(version=1).count() == 120

    # operation_metrics carries every metric of the commit
    assert hist[1]["operation_metrics"] == t.version_manifest(1).metrics
    t.merge(
        src2.filter("key < 50"), on=["key"],
        when_not_matched_by_source="delete", source_scope="key >= 40",
    )
    ops = t.history().collect()[0]["operation_metrics"]
    assert ops["deleted_not_matched_by_source"] == 80  # keys 50-129
    assert ops["matched_updated"] == 50 and ops["files_rewritten"] >= 1


def test_manifest_file_skipping(spark, tdir):
    t = ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, 1000), cluster_by=("key",), num_files=10
    )
    # every file has key stats; pruning to one key must scan fewer files
    pruned = t.read(prune={"key": 7})
    full = t.read()
    n_pruned = pruned.select(F.input_file_name()).distinct().count()
    n_full = full.select(F.input_file_name()).distinct().count()
    assert n_full == 10
    assert n_pruned < n_full
    assert pruned.filter(F.col("key") == 7).count() == 1


def test_lake_catalog_lifecycle(spark, tdir):
    cat = LakeCatalog(spark, f"{tdir}/warehouse")
    cat.create_database("db1")
    assert cat.show_databases() == ["db1"]
    cat.use("db1")
    cat.create_table("t1", _base_df(spark, 50), num_files=2)
    assert cat.show_tables() == ["t1"]
    assert cat.table("t1").read().count() == 50

    cat.register_view("t1", "managed_t1")
    assert spark.sql("SELECT COUNT(*) c FROM managed_t1").collect()[0]["c"] == 50

    cat.drop_table("t1")
    assert cat.show_tables() == []
    cat.create_table("t2", _base_df(spark, 5))
    with pytest.raises(ValueError):
        cat.drop_database("db1")  # non-empty, no cascade
    cat.drop_database("db1", cascade=True)
    assert cat.show_databases() == []


def test_delete_where_cow(spark, tdir):
    df = _base_df(spark)
    t = ManagedTable.create(spark, f"{tdir}/td", df, cluster_by=("key",), num_files=4)
    files_before = {e.path for e in t.current.files}
    # key < 250 lives in the first cluster_by range file(s) only
    metrics = t.delete("key < 250")
    assert metrics["rows_deleted"] == 250
    assert t.current.operation == "DELETE"
    assert t.read().count() == 750
    assert t.read().filter(F.col("key") < 250).count() == 0
    # copy-on-write: some original files must carry over untouched
    carried = {e.path for e in t.current.files} & files_before
    assert carried, "expected untouched files to carry over by reference"
    assert metrics["files_rewritten"] < 4
    # time travel still sees the pre-delete state
    assert t.read(version=0).count() == 1000


def test_delete_null_predicate_rows_are_kept(spark, tdir):
    df = _base_df(spark, n=100).withColumn(
        "maybe", F.when(F.col("key") % 2 == 0, F.col("key"))
    )
    t = ManagedTable.create(spark, f"{tdir}/tn", df, num_files=2)
    # predicate is NULL for odd keys -> those rows must survive (SQL DELETE
    # removes only predicate-TRUE rows)
    metrics = t.delete("maybe < 10")
    assert metrics["rows_deleted"] == 5  # keys 0,2,4,6,8
    assert t.read().count() == 95


def test_delete_no_match_is_noop(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/tz", _base_df(spark, 100), num_files=2)
    metrics = t.delete("key > 100000")
    assert metrics == {"rows_deleted": 0, "files_rewritten": 0, "files_added": 0}
    assert t.current.version == 0  # no new version for a no-op


def test_update_old_row_semantics(spark, tdir):
    df = _base_df(spark, n=100)
    t = ManagedTable.create(spark, f"{tdir}/tu", df, num_files=2)
    # both assignments read the OLD row: value doubles, tag gets OLD value
    metrics = t.update(
        {"value": "value * 2", "tag": "concat('was-', CAST(value AS STRING))"},
        "key < 10",
    )
    assert metrics["rows_updated"] == 10
    row = t.read().filter(F.col("key") == 4).first()
    assert row["value"] == 4 * 2.5 * 2
    assert row["tag"] == "was-10.0"  # old value, not the doubled one
    assert t.read().filter(F.col("key") == 50).first()["value"] == 125.0
    assert t.read().count() == 100


def test_append_requires_merge_schema_for_new_columns(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/ta", _base_df(spark, 100), num_files=2)
    evolved = _base_df(spark, 10).withColumn("extra", F.lit("x"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(evolved)
    metrics = t.append(evolved, merge_schema=True)
    assert metrics == {"rows_appended": 10, "files_added": 1, "columns_added": 1}
    got = t.read()
    assert got.count() == 110
    # pre-evolution rows surface the new column as NULL
    assert got.filter(F.col("extra").isNull()).count() == 100
    # append never rewrites: version 0 files all carried over
    assert t.read(version=0).count() == 100


def test_append_missing_column_null_filled(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/tm", _base_df(spark, 50), num_files=1)
    narrow = _base_df(spark, 5).drop("tag")
    with pytest.raises(ValueError):
        t.append(narrow)
    t.append(narrow, merge_schema=True)
    got = t.read()
    assert got.count() == 55
    assert got.filter(F.col("tag").isNull()).count() == 5


def test_mor_merge_lifecycle(spark, tmp_path):
    """MoR table mode: merge appends deltas (no rewrite), read resolves
    latest-per-key to exactly the CoW result, optimize folds deltas back
    to base files, and the pre-merge version still time-travels."""
    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    src = spark.range(150, 260).selectExpr("id AS k", "CAST(id * -1 AS DOUBLE) AS v")

    cow = ManagedTable.create(spark, str(tmp_path / "cow"), base, num_files=4)
    cow.merge(src, on=["k"])
    mor = ManagedTable.create(
        spark, str(tmp_path / "mor"), base, num_files=4,
        table_mode="mor", primary_keys=("k",),
    )
    m = mor.merge(src, on=["k"])
    assert m["files_rewritten"] == 0 and m["matched_updated"] == 50
    assert m["inserted"] == 60
    assert any(e.kind == "delta" for e in mor.current.files)

    def state(t):
        return sorted((r.k, r.v) for r in t.read().collect())

    assert state(mor) == state(cow)
    # time travel to the pre-merge version is unaffected by the deltas
    assert mor.read(version=0).count() == 200

    opt = mor.optimize()
    assert opt["deltas_folded"] >= 1
    assert all(e.kind == "data" for e in mor.current.files)
    assert state(mor) == state(cow)

    # DML on a MoR table with outstanding deltas stays MoR-native:
    # DELETE commits a deletion-vector tombstone (zero rewrites, deltas
    # left in place); an explicit OPTIMIZE folds both away
    mor.merge(
        spark.range(240, 260).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS v"),
        on=["k"],
    )
    assert any(e.kind == "delta" for e in mor.current.files)
    d = mor.delete("k >= 250")
    assert d["rows_deleted"] == 10 and d["files_rewritten"] == 0
    assert any(e.kind == "tombstone" for e in mor.current.files)
    assert mor.read().count() == 250
    mor.optimize()
    assert all(e.kind == "data" for e in mor.current.files)
    assert mor.read().count() == 250


def test_mor_requires_primary_keys(spark, tmp_path):
    import pytest as _pytest

    from lhbench_spark.tables import ManagedTable

    df = spark.range(5).selectExpr("id AS k")
    with _pytest.raises(ValueError, match="primary_keys"):
        ManagedTable.create(spark, str(tmp_path / "x"), df, table_mode="mor")


def test_tablefs_seam_carries_all_metadata_io(spark, tmp_path):
    """The object-store claim is an interface, not a comment: run a full
    table lifecycle through a recording TableFS subclass and check every
    metadata operation class went through it (an os.* call bypassing the
    seam would leave its category at zero)."""
    from collections import Counter

    from lhbench_spark.tables import ManagedTable, TableFS

    class RecordingFS(TableFS):
        def __init__(self):
            self.calls = Counter()

        def __getattribute__(self, name):
            attr = object.__getattribute__(self, name)
            if callable(attr) and not name.startswith("_") and name != "calls":
                def wrapped(*a, **kw):
                    object.__getattribute__(self, "calls")[name] += 1
                    return attr(*a, **kw)
                return wrapped
            return attr

    fs = RecordingFS()
    df = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = ManagedTable.create(spark, str(tmp_path / "t"), df, num_files=3, fs=fs)
    t.merge(spark.range(40, 60).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS v"), on=["k"])
    t.optimize(target_file_rows=1000)
    t.vacuum(retain_versions=1)
    assert t.read().count() == 60
    for op in ("makedirs", "commit_text", "read_text", "listdir",
               "parquet_metadata", "size", "remove", "isdir"):
        assert fs.calls[op] > 0, (op, dict(fs.calls))
    # reload through the same seam
    t2 = ManagedTable(spark, str(tmp_path / "t"), fs)
    assert t2.read().count() == 60


def test_mor_prune_reads_deltas(spark, tmp_path):
    """Manifest file-skip pruning on a MoR table must never prune DELTA
    files: a base row matching the prune key may be superseded by a
    delta outside the pruned key range's base files."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 100).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "m"), base, cluster_by=("k",), num_files=4,
        table_mode="mor", primary_keys=("k",),
    )
    # supersede k=7 via a delta
    t.merge(
        spark.range(7, 8).selectExpr("id AS k", "CAST(99.0 AS DOUBLE) AS v"),
        on=["k"],
    )
    got = t.read(prune={"k": 7}).filter(F.col("k") == 7).collect()
    assert len(got) == 1 and got[0].v == 99.0, got


def test_change_data_feed(spark, tmp_path):
    """changes(v): file-level manifest diff + symmetric difference emits
    exactly the changed rows — inserts, update pre/post images, deletes —
    and never the unchanged rows a CoW rewrite copies along."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "cdf"), base, cluster_by=("k",), num_files=4,
        primary_keys=("k",),
    )
    # v1: update 90..99 (values change), insert 100..109
    t.merge(
        spark.range(90, 110).selectExpr("id AS k", "CAST(-1.0 AS DOUBLE) AS v"),
        on=["k"],
    )
    # v2: delete k < 5
    t.delete("k < 5")

    ch = t.changes(0)
    counts = {
        (r["_change_type"], r["_commit_version"]): r["cnt"]
        for r in ch.groupBy("_change_type", "_commit_version")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert counts == {
        ("update_preimage", 1): 10,
        ("update_postimage", 1): 10,
        ("insert", 1): 10,
        ("delete", 2): 5,
    }, counts
    # post-images carry the new values
    post = ch.filter("_change_type = 'update_postimage'").select("v").distinct().collect()
    assert [r.v for r in post] == [-1.0]
    # changes since the current version are empty
    assert t.changes(t.current.version).count() == 0


def test_change_feed_mor_upserts(spark, tmp_path):
    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 50).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "cdfm"), base, num_files=2,
        table_mode="mor", primary_keys=("k",),
    )
    t.merge(spark.range(40, 60).selectExpr("id AS k", "CAST(2.0 AS DOUBLE) AS v"), on=["k"])
    ch = t.changes(0)
    got = {r["_change_type"] for r in ch.select("_change_type").distinct().collect()}
    assert got == {"upsert"} and ch.count() == 20


def test_optimistic_concurrency_one_winner(spark, tmp_path):
    """Two handles on the same table racing to commit the same next
    version: the manifest commit is an atomic exclusive create, so
    exactly one writer wins and the loser gets a ConcurrentWriteError
    instead of silently clobbering the winner's commit."""
    import pytest as _pytest

    from lhbench_spark.tables import ConcurrentWriteError, ManagedTable

    base = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    root = str(tmp_path / "race")
    ManagedTable.create(spark, root, base, num_files=2)
    a = ManagedTable(spark, root)
    b = ManagedTable(spark, root)  # stale after a's commit
    src = spark.range(0, 10).selectExpr("id AS k", "CAST(-1.0 AS DOUBLE) AS v")
    a.merge(src, on=["k"])
    with _pytest.raises(ConcurrentWriteError):
        b.merge(src, on=["k"])
    # the winner's state is intact and reloadable
    assert ManagedTable(spark, root).read().filter("v = -1.0").count() == 10


def test_change_feed_random_lifecycle_matches_recompute(spark, tmp_path):
    """Property-style CDF check: apply a seeded-random sequence of
    merge/delete/append commits, maintain an aggregate incrementally
    from changes(0) with signed weights, and require it to equal the
    recomputed aggregate of the final table — any dropped, duplicated,
    or misclassified delta diverges."""
    import random

    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    for seed in (7, 23):
        rng = random.Random(seed)
        root = str(tmp_path / f"life{seed}")
        base = spark.range(0, 300).selectExpr(
            "id AS k", "CAST(id % 13 AS DOUBLE) AS v"
        )
        t = ManagedTable.create(
            spark, root, base, cluster_by=("k",), num_files=3,
            primary_keys=("k",), validate_count=False,
        )
        next_new = 300
        for _ in range(4):
            op = rng.choice(["merge", "delete", "append"])
            if op == "merge":
                lo = rng.randrange(0, 250)
                src = spark.range(lo, lo + 60).selectExpr(
                    "id AS k", f"CAST({rng.randrange(100)} AS DOUBLE) AS v"
                )
                t.merge(src, on=["k"], validate_unique=False)
            elif op == "delete":
                m = rng.choice([7, 11, 17])
                t.delete(f"k % {m} = {rng.randrange(m)}")
            else:
                src = spark.range(next_new, next_new + 40).selectExpr(
                    "id AS k", "CAST(-5 AS DOUBLE) AS v"
                )
                next_new += 40
                t.append(src, num_files=1)

        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        seed_agg = spark.createDataFrame([(300, float(sum(i % 13 for i in range(300))))],
                                         "cnt INT, vsum DOUBLE")
        delta = t.changes(0).agg(
            F.sum(sign).alias("cnt"),
            F.sum(sign.cast("double") * F.col("v")).alias("vsum"),
        )
        inc = seed_agg.unionByName(delta).agg(
            F.sum("cnt").alias("cnt"), F.round(F.sum("vsum"), 6).alias("vsum")
        ).collect()[0]
        direct = t.read().agg(
            F.count(F.lit(1)).alias("cnt"), F.round(F.sum("v"), 6).alias("vsum")
        ).collect()[0]
        assert (inc.cnt, inc.vsum) == (direct.cnt, direct.vsum), (seed, inc, direct)


def test_crashed_writer_remnants_are_harmless(spark, tmp_path):
    """A writer that died after staging its temp manifest (or mid data
    write) must not corrupt the table: stray .tmp manifests are ignored
    by the loader, and a half-written staging data dir is invisible to
    the next writer — per-writer staging dirs carry a random token, so
    the next commit writes elsewhere and its manifest references only
    its own files (the remnant is unreferenced garbage, never data)."""
    import os

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 50).selectExpr("id AS k")
    root = str(tmp_path / "crash")
    t = ManagedTable.create(spark, root, base, num_files=2)
    # crashed writer remnant: a staged-but-never-linked temp manifest
    with open(os.path.join(root, "_manifests", "v00001.json.tmp.999"), "w") as f:
        f.write("{half written")
    t2 = ManagedTable(spark, root)  # reload ignores the remnant
    assert t2.current.version == 0 and t2.read().count() == 50
    # crashed writer remnant: an abandoned staging dir for the next
    # version, holding a stray parquet file
    remnant = os.path.join(root, "data", "v00001-deadbeef")
    os.makedirs(remnant)
    spark.range(999).selectExpr("id AS k").coalesce(1).write.mode(
        "overwrite"
    ).parquet(remnant)
    t2.append(spark.range(5).selectExpr("id AS k"))
    # the commit succeeded, skipped the remnant dir, and referenced
    # none of its files
    assert t2.read().count() == 55
    assert all("deadbeef" not in e.path for e in t2.current.files)


def test_check_constraints_enforced(spark, tmp_path):
    """CHECK constraints (Delta ADD CONSTRAINT analog): declared at
    create, enforced on the load and on every append/merge SOURCE — a
    violating commit raises BEFORE any file lands, and NULL predicate
    results count as violations (SQL CHECK semantics)."""
    import pytest as _pytest

    from lhbench_spark.tables import CheckViolation, ManagedTable

    ok = spark.range(1, 50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "chk"), ok, num_files=2,
        checks={"v_positive": "v > 0", "k_known": "k < 1000"},
    )
    assert t.checks == {"v_positive": "v > 0", "k_known": "k < 1000"}

    bad_append = spark.range(50, 60).selectExpr("id AS k", "CAST(-1 AS DOUBLE) AS v")
    with _pytest.raises(CheckViolation, match="v_positive"):
        t.append(bad_append)
    # nothing landed
    assert t.current.version == 0 and t.read().count() == 49

    with _pytest.raises(CheckViolation, match="k_known"):
        t.merge(
            spark.range(5000, 5010).selectExpr("id AS k", "CAST(1 AS DOUBLE) AS v"),
            on=["k"],
        )
    # NULL check result is a violation
    with _pytest.raises(CheckViolation, match="v_positive"):
        t.append(
            spark.range(60, 65).selectExpr("id AS k", "CAST(NULL AS DOUBLE) AS v")
        )
    # a clean commit still works and constraints persist across reload
    t.append(spark.range(100, 110).selectExpr("id AS k", "CAST(2 AS DOUBLE) AS v"))
    t2 = ManagedTable(spark, str(tmp_path / "chk"))
    assert t2.checks["v_positive"] == "v > 0"
    assert t2.read().count() == 59

    with _pytest.raises(CheckViolation):
        ManagedTable.create(
            spark, str(tmp_path / "chk2"),
            spark.range(3).selectExpr("id AS k", "CAST(0 AS DOUBLE) AS v"),
            checks={"v_positive": "v > 0"},
        )


def test_check_constraints_cover_update(spark, tmp_path):
    import pytest as _pytest

    from lhbench_spark.tables import CheckViolation, ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "chku"),
        spark.range(1, 20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        num_files=2, checks={"v_positive": "v > 0"},
    )
    with _pytest.raises(CheckViolation, match="v_positive"):
        t.update({"v": "-v"}, "k < 5")
    assert t.current.version == 0  # nothing committed
    t.update({"v": "v + 1"}, "k < 5")  # clean update passes
    assert t.read().filter("v <= 0").count() == 0


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    """CLONE references the source's files by absolute path (no data
    copied), then evolves independently: DML on the clone never touches
    the source, and the clone's VACUUM never deletes external files."""
    import os

    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    src_root = str(tmp_path / "src")
    src = ManagedTable.create(
        spark, src_root,
        spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        cluster_by=("k",), num_files=4, primary_keys=("k",),
    )
    clone = src.clone(str(tmp_path / "cl"))
    assert clone.current.operation == "CLONE"
    # zero-copy: no data files under the clone root
    assert not os.path.isdir(str(tmp_path / "cl" / "data"))
    assert clone.read().count() == 200
    assert sorted(clone.read().columns) == sorted(src.read().columns)

    # independent evolution: delete on the clone, source untouched
    clone.delete("k < 50")
    assert clone.read().count() == 150
    assert src.read().count() == 200
    # merge on the clone supersedes external base rows (version-0 rank)
    clone.merge(
        spark.range(100, 120).selectExpr("id AS k", "CAST(-1.0 AS DOUBLE) AS v"),
        on=["k"],
    )
    assert clone.read().filter("v = -1.0").count() == 20
    assert src.read().filter("v = -1.0").count() == 0

    # clone vacuum keeps every external (source-owned) file
    n_src_files = len(src.current.files)
    clone.vacuum(retain_versions=1)
    assert all(src.fs.exists(src._abs(e)) for e in src.current.files)
    assert len(src.current.files) == n_src_files
    # 200 - 50 deleted; the 20 merged keys all matched (no inserts)
    assert clone.read().count() == 150


def test_mor_consecutive_merges_latest_wins(spark, tmp_path):
    """Two MoR merges over overlapping keys WITHOUT compaction between:
    the read resolve must pick the later delta per key (version
    precedence), and folding afterwards preserves exactly that state."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "mm"),
        spark.range(0, 100).selectExpr("id AS k", "CAST(0.0 AS DOUBLE) AS v"),
        num_files=2, table_mode="mor", primary_keys=("k",),
    )
    t.merge(spark.range(20, 60).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v"), on=["k"])
    t.merge(spark.range(40, 80).selectExpr("id AS k", "CAST(2.0 AS DOUBLE) AS v"), on=["k"])

    def state(tab):
        return {r.k: r.v for r in tab.read().collect()}

    s = state(t)
    assert len(s) == 100
    assert s[10] == 0.0 and s[30] == 1.0 and s[50] == 2.0 and s[70] == 2.0
    t.optimize()
    assert state(t) == s


def test_lake_catalog_passes_table_options_through(spark, tdir):
    """create_table forwards table_mode/primary_keys/checks to the
    managed table — the catalog is a namespace, not a feature filter."""
    cat = LakeCatalog(spark, f"{tdir}/wh2")
    cat.create_database("db")
    cat.use("db")
    cat.create_table(
        "m", _base_df(spark, 40), num_files=2,
        table_mode="mor", primary_keys=("key",),
        checks={"val_real": "value IS NOT NULL"},
    )
    t = cat.table("m")
    assert t.table_mode == "mor" and t.primary_keys == ["key"]
    assert "val_real" in t.checks
    m = t.merge(_base_df(spark, 10).withColumn("value", F.lit(9.9)), on=["key"])
    assert m["files_rewritten"] == 0
    assert t.read().filter("value = 9.9").count() == 10


def test_dml_after_schema_evolution_preserves_columns(spark, tmp_path):
    """MERGE / DELETE / UPDATE after additive evolution: rewrites of
    pre-evolution files conform to the current schema (typed-null fill),
    and rewrites spanning mixed-schema files never silently drop the
    evolved column's values."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "evo"), base, num_files=2, primary_keys=("k",)
    )
    t.append(
        spark.range(50, 60).selectExpr(
            "id AS k", "CAST(0.0 AS DOUBLE) AS v", "'x' AS note"
        ),
        merge_schema=True,
    )
    # merge whose touched files predate the evolution
    m = t.merge(
        spark.range(0, 10).selectExpr(
            "id AS k", "CAST(-1.0 AS DOUBLE) AS v", "'m' AS note"
        ),
        on=["k"],
    )
    assert m["matched_updated"] == 10
    got = t.read()
    assert got.count() == 60
    assert got.filter("note = 'm'").count() == 10
    assert got.filter("note = 'x'").count() == 10  # evolved values survive
    # delete + update across mixed-schema state
    t.delete("k >= 55")
    assert t.read().filter("note = 'x'").count() == 5
    t.update({"v": "v + 100"}, "note = 'x'")
    assert t.read().filter("v >= 100").count() == 5
    assert t.read().count() == 55


def test_change_feed_on_clone(spark, tmp_path):
    """CDF on a shallow clone: commit deltas after the clone point are
    derived correctly even though the v0 base is external (absolute-path)
    file references."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    src = ManagedTable.create(
        spark, str(tmp_path / "s"),
        spark.range(0, 80).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v"),
        cluster_by=("k",), num_files=2, primary_keys=("k",),
    )
    clone = src.clone(str(tmp_path / "c"))
    clone.merge(
        spark.range(70, 90).selectExpr("id AS k", "CAST(2.0 AS DOUBLE) AS v"),
        on=["k"],
    )
    counts = {
        r["_change_type"]: r["cnt"]
        for r in clone.changes(0)
        .groupBy("_change_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert counts == {
        "update_preimage": 10,
        "update_postimage": 10,
        "insert": 10,
    }, counts
    # and the source saw none of it
    assert src.current.version == 0


def test_mor_resolve_through_catalog_view_and_vacuum(spark, tdir):
    """A MoR table registered as a temp view resolves latest-per-key for
    SQL consumers, and VACUUM after merges keeps every file the current
    manifest still references (base AND delta)."""
    cat = LakeCatalog(spark, f"{tdir}/whm")
    cat.create_database("db")
    cat.use("db")
    cat.create_table(
        "events_t", _base_df(spark, 100), num_files=2,
        table_mode="mor", primary_keys=("key",),
    )
    t = cat.table("events_t")
    t.merge(
        _base_df(spark, 120).filter(F.col("key") >= 90).withColumn(
            "value", F.lit(-1.0)
        ),
        on=["key"],
    )
    cat.register_view("events_t", "mor_view")
    got = spark.sql(
        "SELECT COUNT(*) AS c, SUM(CASE WHEN value = -1.0 THEN 1 ELSE 0 END) AS u "
        "FROM mor_view"
    ).collect()[0]
    assert (got.c, got.u) == (120, 30)
    v = t.vacuum(retain_versions=1)
    assert v["manifests_removed"] == 1
    # every referenced file (incl. deltas) survives; read still resolves
    assert all(t.fs.exists(t._abs(e)) for e in t.current.files)
    assert t.read().count() == 120


def test_restore_rolls_back_data_not_history(spark, tmp_path):
    """RESTORE (Delta analog): state equals the target version's, the log
    gains a commit (no rewind), the restore is itself time-travelable,
    and the change feed derives the restore's row-level diff."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "r"), base, num_files=2, primary_keys=("k",)
    )
    t.delete("k >= 50")
    t.update({"v": "v + 1000"}, "k < 10")
    assert t.read().count() == 50
    metrics = t.restore(0)
    assert metrics["restored_from"] == 0
    # state == v0, history grew to 4 commits (create, delete, update, restore)
    assert t.read().count() == 100
    assert t.read().agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(100))
    assert t.current.version == 3 and t.current.operation == "RESTORE"
    # the pre-restore state is still time-travelable
    assert t.read(version=2).count() == 50
    # CDF across the restore re-inserts the deleted rows and reverts updates
    ch = t.changes(from_version=2)
    ins = ch.filter("_change_type = 'insert'").count()
    assert ins == 50  # k in [50, 100) come back
    post = ch.filter("_change_type = 'update_postimage' AND k < 10")
    assert post.count() == 10
    assert post.agg(F.max("v")).collect()[0][0] == 18  # 9*2, the restored value


def test_restore_past_vacuum_raises(spark, tmp_path):
    import pytest as _pytest

    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "rv"), spark.range(20).selectExpr("id AS k"),
        num_files=1,
    )
    t.delete("k >= 10")
    t.vacuum(retain_versions=1)
    with _pytest.raises(KeyError):
        t.restore(0)


def test_apply_changes_syncs_a_replica(spark, tmp_path):
    """End-to-end CDC: replica created from the source's v0 snapshot,
    then synced purely from changes() — after a merge, a delete, an
    update, and a restore on the source, one apply_changes() call makes
    replica state row-identical to source state."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 200).selectExpr(
        "id AS k", "CAST(id * 1.5 AS DOUBLE) AS v", "CAST(id % 5 AS STRING) AS tag"
    )
    a = ManagedTable.create(
        spark, str(tmp_path / "a"), base, cluster_by=("k",), num_files=4,
        primary_keys=("k",),
    )
    b = ManagedTable.create(
        spark, str(tmp_path / "b"), a.read(), cluster_by=("k",), num_files=4,
        primary_keys=("k",),
    )
    # source lifecycle: upsert, delete, update, rollback
    src = spark.range(150, 250).selectExpr(
        "id AS k", "CAST(id * -1.0 AS DOUBLE) AS v", "'m' AS tag"
    )
    a.merge(src, on=["k"])
    a.delete("k < 20")
    a.update({"v": "v + 0.25"}, "tag = 'm'")
    a.restore(2)  # back to the post-delete state

    metrics = b.apply_changes(a.changes(from_version=0))
    assert metrics["upserts_applied"] > 0 and metrics["deletes_applied"] > 0

    def state(t):
        return {
            tuple(r) for r in t.read().select("k", "v", "tag").collect()
        }

    assert state(b) == state(a)
    assert b.current.operation == "APPLY_CHANGES"
    # untouched replica files carried by reference (CoW, not table rewrite)
    assert metrics["files_rewritten"] <= 4


def test_apply_changes_last_action_per_key_wins(spark, tmp_path):
    """A key inserted then deleted across feed commits must end absent;
    a key updated twice ends at the latest value."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    a = ManagedTable.create(
        spark, str(tmp_path / "s"),
        spark.range(0, 10).selectExpr("id AS k", "id * 1.0 AS v"),
        num_files=1, primary_keys=("k",),
    )
    b = ManagedTable.create(
        spark, str(tmp_path / "r"), a.read(), num_files=1, primary_keys=("k",)
    )
    a.merge(spark.range(10, 12).selectExpr("id AS k", "0.0 AS v"), on=["k"])
    a.update({"v": "100.0"}, "k = 5")
    a.update({"v": "200.0"}, "k = 5")
    a.delete("k = 11")  # the key inserted two commits ago
    b.apply_changes(a.changes(from_version=0))
    got = {r.k: r.v for r in b.read().collect()}
    assert 11 not in got and got[10] == 0.0 and got[5] == 200.0
    assert len(got) == 11


def test_apply_changes_replays_mor_upsert_feed(spark, tmp_path):
    """A MoR table's feed tags merge deltas and superseding appends as
    ``upsert``; replaying it onto a replica applies them as post rows."""
    a = ManagedTable.create(
        spark, str(tmp_path / "s"), _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    b = ManagedTable.create(
        spark, str(tmp_path / "r"), _base_df(spark, 100), num_files=2,
        cluster_by=("key",), primary_keys=("key",),
    )
    a.merge(
        _base_df(spark, 120).filter("key >= 90").withColumn("value", F.lit(-1.0)),
        on=["key"],
    )
    a.append(_base_df(spark, 20).filter("key >= 10").withColumn("value", F.lit(-2.0)))
    a.delete("key < 5")
    b.apply_changes(a.changes(0))
    assert sorted(b.read().collect()) == sorted(a.read().collect())


# ---------- CoW / MoR agreement ----------
#
# Every DML verb matches once and hands its change to the CoW or the MoR
# applier; both must leave the same table. The MoR copy carries an
# outstanding delta (keys 0-9 merged as "d1") and an outstanding
# tombstone (keys 90-99 deleted) when the call runs, so the MoR applier
# works over unresolved files; the CoW copy takes the same two commits.


def _agree_rows(spark, keys, tag):
    return spark.createDataFrame(
        [(k, k % 7, k * 2.5, tag) for k in keys],
        "key BIGINT, part BIGINT, value DOUBLE, tag STRING",
    )


_AGREE_SRC = [5, 20, 50, 95, 120]


def _agree_feed(spark):
    rows = [
        (5, 5 % 7, 5 * 2.5, "fed", "update_postimage", 1),
        (5, 5 % 7, 5 * 2.5, "old", "update_preimage", 1),
        (20, 20 % 7, 20 * 2.5, "gone", "delete", 1),
        (50, 50 % 7, 50 * 2.5, "gone", "delete", 1),
        (50, 50 % 7, -1.0, "fed", "insert", 2),  # last action per key wins
        (95, 95 % 7, 95 * 2.5, "gone", "delete", 1),  # already absent
        (130, 130 % 7, 130 * 2.5, "fed", "insert", 2),
    ]
    return spark.createDataFrame(
        rows,
        "key BIGINT, part BIGINT, value DOUBLE, tag STRING, "
        "_change_type STRING, _commit_version BIGINT",
    )


def _agree_upsert(model, keys, tag):
    for k in keys:
        model[k] = (k, k % 7, k * 2.5, tag)


def _agree_merge_delete(model, keys, tag):
    for k in keys:
        if k in model:
            del model[k]
        else:
            model[k] = (k, k % 7, k * 2.5, tag)


def _agree_full_sync(model, keys, tag):
    for k in [k for k, r in model.items() if r[1] == 3 and k not in keys]:
        del model[k]
    _agree_upsert(model, keys, tag)


def _agree_delete(model):
    for k in [k for k, r in model.items() if r[1] == 3 or k < 3]:
        del model[k]


def _agree_update(model):
    for k, r in list(model.items()):
        if k < 8 or r[1] == 2:
            model[k] = (r[0], r[1], r[2] + 1, r[3])


def _agree_apply(model):
    model[5] = (5, 5, 12.5, "fed")
    model.pop(20)
    model[50] = (50, 1, -1.0, "fed")
    model[130] = (130, 130 % 7, 325.0, "fed")


# call -> (run on a table, apply to the dict model)
_AGREE_CALLS = {
    "merge": (
        lambda s, t: t.merge(_agree_rows(s, _AGREE_SRC, "m"), on=["key"]),
        lambda md: _agree_upsert(md, _AGREE_SRC, "m"),
    ),
    "merge_delete": (
        lambda s, t: t.merge(
            _agree_rows(s, _AGREE_SRC, "m"), on=["key"], when_matched="delete"
        ),
        lambda md: _agree_merge_delete(md, _AGREE_SRC, "m"),
    ),
    "merge_full_sync": (
        lambda s, t: t.merge(
            _agree_rows(s, _AGREE_SRC, "m"), on=["key"],
            when_not_matched_by_source="delete", source_scope="part = 3",
        ),
        lambda md: _agree_full_sync(md, _AGREE_SRC, "m"),
    ),
    "delete": (lambda s, t: t.delete("part = 3 OR key < 3"), _agree_delete),
    "update": (
        lambda s, t: t.update({"value": "value + 1"}, "key < 8 OR part = 2"),
        _agree_update,
    ),
    "apply_changes": (lambda s, t: t.apply_changes(_agree_feed(s)), _agree_apply),
}


@pytest.mark.parametrize("call", sorted(_AGREE_CALLS))
def test_dml_cow_and_mor_agree(spark, tmp_path, call):
    run, apply_model = _AGREE_CALLS[call]
    model: dict[int, tuple] = {}
    _agree_upsert(model, range(100), "base")
    _agree_upsert(model, range(10), "d1")
    for k in range(90, 100):
        del model[k]
    apply_model(model)
    want = sorted(model.values())

    got = {}
    for mode in ("cow", "mor"):
        t = ManagedTable.create(
            spark, str(tmp_path / mode), _agree_rows(spark, range(100), "base"),
            cluster_by=("key",), num_files=4, table_mode=mode,
            primary_keys=("key",),
        )
        t.merge(_agree_rows(spark, range(10), "d1"), on=["key"])
        t.delete("key >= 90")
        if mode == "mor":
            kinds = {e.kind for e in t.current.files}
            assert kinds == {"data", "delta", "tombstone"}
        run(spark, t)
        got[mode] = sorted(tuple(r) for r in t.read().collect())
        assert got[mode] == want, f"{mode} {call}: read() != model"
    assert got["cow"] == got["mor"]


def test_update_preserves_column_type(spark, tmp_path):
    """UPDATE must cast assignment results back to the declared column
    type — `v + 0.25` on DECIMAL(23,1) would otherwise widen the
    rewritten files to a different decimal and break multi-file reads."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 100).selectExpr("id AS k", "id * 1.5 AS v")  # DECIMAL(23,1)
    t = ManagedTable.create(
        spark, str(tmp_path / "u"), base, cluster_by=("k",), num_files=4
    )
    before = t.read().schema["v"].dataType
    assert isinstance(before, DecimalType)
    t.update({"v": "v + 0.25"}, "k < 10")  # touches a subset of files
    got = t.read()  # merges rewritten + untouched files — must not conflict
    assert got.schema["v"].dataType == before
    # 0.25 rounds into scale 1 per ANSI cast (0.2 half-even? Spark rounds
    # HALF_UP on decimal cast): just assert the update landed and the
    # untouched rows are intact
    assert got.filter("k >= 10 AND v = CAST(k * 1.5 AS DECIMAL(23,1))").count() == 90
    assert got.count() == 100


def test_posthoc_zorder_reclusters_and_skips(spark, tmp_path):
    """zorder() on an existing key-clustered table: one OPTIMIZE commit,
    values preserved, and manifest pruning skips files on BOTH z-order
    columns afterwards (the trailing column could not skip before)."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import ManagedTable

    df = spark.range(0, 4096).selectExpr(
        "id AS a", "CAST((id * 2654435761) % 4096 AS BIGINT) AS b", "id * 1.0 AS v"
    )
    t = ManagedTable.create(
        spark, str(tmp_path / "z"), df, cluster_by=("a",), num_files=8
    )
    # before: universal stats cover b too, but the a-clustered write
    # scrambles b so every file's b range spans ~the full domain —
    # stats without clustering skip nothing on b
    pre = t.current.files
    assert all("b" in e.stats for e in pre)
    assert (
        sum(1 for e in pre if e.stats["b"][0] <= 1000 <= e.stats["b"][1]) == 8
    )
    m = t.zorder(("a", "b"), num_files=8)
    assert m["files_removed"] == 8 and m["files_added"] == 8
    assert t.current.operation == "OPTIMIZE" and t.current.version == 1
    # after: stats on both; pruning on either column skips files
    post = t.current.files
    assert all("a" in e.stats and "b" in e.stats for e in post)

    def scanned(col, value):
        return sum(
            1 for e in post
            if e.stats[col][0] <= value <= e.stats[col][1]
        )

    assert scanned("a", 17) < 8
    assert scanned("b", 1000) < 8
    # no rows lost or changed
    assert t.read().count() == 4096
    assert t.read().agg(F.sum("v")).collect()[0][0] == sum(float(i) for i in range(4096))


def test_concurrent_dml_still_conflicts_and_txn_race_dedups(spark, tmp_path):
    """The append rebase must NOT extend to snapshot-dependent commits:
    a stale handle's DELETE (its rewrite set was derived from the old
    snapshot) raises ConcurrentWriteError. And two racing appends with
    the SAME (txn_app_id, txn_version) commit exactly once — the loser's
    rebase finds the txn in the reloaded ledger and becomes a no-op."""
    from lhbench_spark.tables import ConcurrentWriteError, ManagedTable

    root = str(tmp_path / "t")
    ManagedTable.create(spark, root, _base_df(spark, 100), num_files=2)
    a, b = ManagedTable(spark, root), ManagedTable(spark, root)
    a.update({"value": "value + 1"}, "key < 10")  # v1 committed by a
    with pytest.raises(ConcurrentWriteError):
        b.delete("key >= 90")  # b's rewrite set came from the v0 snapshot
    # txn race: both handles at the same version, same app id + batch
    a2, b2 = ManagedTable(spark, root), ManagedTable(spark, root)
    batch = _base_df(spark, 120).filter("key >= 100")
    m_a = a2.append(batch, txn_app_id="race", txn_version=0)
    m_b = b2.append(batch, txn_app_id="race", txn_version=0)
    assert {m_a["rows_appended"], m_b.get("rows_appended", 0)} == {20, 0}
    assert ManagedTable(spark, root).read().count() == 120


def test_txn_append_is_idempotent(spark, tmp_path):
    """Transactional appends (Delta txnAppId/txnVersion analog): a
    replayed (app, version) commits nothing; a higher version commits;
    independent app ids do not interfere; the ledger survives RESTORE
    (so a replica replay after an admin rollback still dedups)."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(spark, str(tmp_path / "t"), _base_df(spark, 10))
    batch = _base_df(spark, 20).filter("key >= 10")
    m1 = t.append(batch, txn_app_id="stream-A", txn_version=0)
    assert m1["rows_appended"] == 10
    # exact replay: no-op, no new manifest version
    v = t.current.version
    m2 = t.append(batch, txn_app_id="stream-A", txn_version=0)
    assert m2 == {"rows_appended": 0, "files_added": 0, "skipped_txn": 1}
    assert t.current.version == v and t.read().count() == 20
    # stale (lower) version replays are no-ops too
    assert t.append(batch, txn_app_id="stream-A", txn_version=-1)["skipped_txn"] == 1
    # next batch commits; an independent app id is tracked separately
    assert t.append(batch, txn_app_id="stream-A", txn_version=1)["rows_appended"] == 10
    assert t.append(batch, txn_app_id="stream-B", txn_version=0)["rows_appended"] == 10
    assert t.read().count() == 40
    # ledger survives RESTORE (current properties are kept)
    t.restore(v)
    assert t.append(batch, txn_app_id="stream-A", txn_version=1)["skipped_txn"] == 1
    with pytest.raises(ValueError, match="together"):
        t.append(batch, txn_app_id="stream-A")


def test_universal_stats_prune_non_cluster_column(spark, tmp_path):
    """Universal per-file column stats (Delta dataSkippingNumIndexedCols
    analog): read(prune=…) skips files on a column that is NOT a cluster
    key when the clustered write leaves its ranges tight (value = 2.5 ×
    key here, so key-clustering sorts value too); an incomparable prune
    value never false-skips — it scans everything."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "u"), _base_df(spark, 800),
        cluster_by=("key",), num_files=8,
    )
    # every data file is statted on all four columns
    assert all(
        {"key", "part", "value", "tag"} <= set(e.stats) for e in t.current.files
    )
    pruned = t.read(prune={"value": 1000.0})  # key 400's value
    n_scanned = pruned.select(F.input_file_name()).distinct().count()
    assert n_scanned < 8
    assert pruned.filter("value = 1000.0").count() == 1
    # type-mismatched prune value: TypeError inside the range check must
    # mean "scan", never "skip"
    safe = t.read(prune={"tag": 12345})
    assert safe.count() == 800


def test_concurrent_appends_one_wins_one_retries(spark, tmp_path):
    """Two threads race to commit the same version from the same loaded
    state: the tokened staging dirs keep their data files apart, the
    atomic manifest commit picks exactly one winner, and the LOSER
    REBASES INTERNALLY (blind appends never conflict — the Delta/Iceberg
    rule): no ConcurrentWriteError surfaces, both appends land, nothing
    is lost, and no manifest references the other writer's files."""
    import threading

    from lhbench_spark.tables import ManagedTable

    root = str(tmp_path / "race")
    ManagedTable.create(
        spark, root, spark.range(0, 100).selectExpr("id AS k"), num_files=2
    )
    barrier = threading.Barrier(2)
    outcomes = {}

    def writer(tag, lo, hi):
        t = ManagedTable(spark, root)  # both load version 0
        batch = spark.range(lo, hi).selectExpr("id AS k")
        barrier.wait()
        outcomes[tag] = t.append(batch, num_files=1)

    th1 = threading.Thread(target=writer, args=("a", 100, 150))
    th2 = threading.Thread(target=writer, args=("b", 150, 210))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert outcomes["a"]["rows_appended"] == 50
    assert outcomes["b"]["rows_appended"] == 60

    t = ManagedTable(spark, root)
    assert t.read().count() == 210
    assert t.current.version == 2
    # every manifest-referenced file exists (no cross-writer leakage of
    # a loser's orphaned staging files)
    import os
    for m in t.manifests:
        for e in m.files:
            assert os.path.exists(os.path.join(root, e.path)), e.path


def test_vacuum_orphans_removes_loser_debris_only(spark, tmp_path):
    """vacuum_orphans(): a crashed/commit-losing writer's staged files
    are deleted, every manifest-referenced file (current AND
    time-travelable versions) survives, and non-parquet unknown files
    are never touched."""
    import os

    from lhbench_spark.tables import ManagedTable

    root = str(tmp_path / "gc")
    t = ManagedTable.create(
        spark, root, spark.range(0, 100).selectExpr("id AS k"), num_files=2
    )
    t.append(spark.range(100, 120).selectExpr("id AS k"))
    # loser debris: a staged dir with parquet that no manifest references
    loser = os.path.join(root, "data", "v00002-deadbeef")
    os.makedirs(loser)
    spark.range(999).selectExpr("id AS k").coalesce(1).write.mode(
        "overwrite"
    ).parquet(loser)
    # an unknown foreign file must survive
    keepme = os.path.join(root, "data", "v00002-deadbeef", "NOTES.txt")
    with open(keepme, "w") as f:
        f.write("not ours to delete")

    # Default grace window: freshly-staged files are NEVER deleted — an
    # in-flight writer's tokened staging dir is by design unreferenced
    # until its manifest commits (ADVICE r5: a concurrent GC must not
    # delete staged parquet mid-write).
    m0 = t.vacuum_orphans()
    assert m0["orphan_files_removed"] == 0
    assert any(f.endswith(".parquet") for f in os.listdir(loser))

    # Zero retention (the known-quiescent maintenance call): debris goes.
    m = t.vacuum_orphans(retention_seconds=0.0)
    assert m["orphan_files_removed"] > 0
    assert not any(
        f.endswith(".parquet") for f in os.listdir(loser)
    ), "orphan parquet survived"
    assert os.path.exists(keepme)
    # all versions still readable
    assert t.read().count() == 120
    assert t.read(version=0).count() == 100


def test_merge_when_matched_delete(spark, tmp_path):
    """WHEN MATCHED DELETE (Delta clause parity): matched keys vanish,
    unmatched source rows insert, untouched files carry by reference,
    and the metrics record deletions rather than updates."""
    import pytest as _pytest

    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "md"), _base_df(spark, 1000),
        cluster_by=("key",), num_files=8,
    )
    files_before = {e.path for e in t.current.files}
    # 10 tombstones that exist (keys 0..9) + 5 fresh rows (1000..1004)
    src = _base_df(spark, 1005).filter(
        (F.col("key") < 10) | (F.col("key") >= 1000)
    )
    m = t.merge(src, on=["key"], when_matched="delete")
    assert m["matched_deleted"] == 10 and m["inserted"] == 5
    got = t.read()
    assert got.count() == 995
    assert got.filter(F.col("key") < 10).count() == 0
    assert got.filter(F.col("key") >= 1000).count() == 5
    assert {e.path for e in t.current.files} & files_before, "no carry-over"
    # MoR tables take the delete clause as a deletion-vector commit:
    # matched keys tombstone, fresh source rows insert, zero rewrites
    tm = ManagedTable.create(
        spark, str(tmp_path / "mdm"), _base_df(spark, 50), num_files=1,
        table_mode="mor", primary_keys=("key",),
    )
    mm = tm.merge(
        _base_df(spark, 60).filter((F.col("key") < 10) | (F.col("key") >= 50)),
        on=["key"], when_matched="delete",
    )
    assert mm["matched_deleted"] == 10 and mm["inserted"] == 10
    assert mm["files_rewritten"] == 0
    assert tm.read().count() == 50


@pytest.mark.parametrize(
    "n_deltas", [5, pytest.param(50, marks=pytest.mark.slow)]
)
def test_mor_many_deltas_bounded_plan(spark, tmp_path, n_deltas):
    """N un-compacted delta commits must resolve through ONE scan node
    (flat path→version lookup), not an O(versions) union — the plan a
    table accumulates between OPTIMIZE runs at 100 TB. Also proves the
    resolve is correct: latest-per-key across all N versions. The
    5-delta case keeps the plan-shape guard in the default gate."""
    from lhbench_spark.tables import ManagedTable

    base = spark.range(0, 100).selectExpr("id AS k", "CAST(0 AS DOUBLE) AS v")
    t = ManagedTable.create(
        spark, str(tmp_path / "m"), base, num_files=2,
        table_mode="mor", primary_keys=("k",),
    )
    for i in range(1, n_deltas + 1):
        src = spark.range(i, i + 2).selectExpr(
            "id AS k", f"CAST({i} AS DOUBLE) AS v"
        )
        t.merge(src, on=["k"])
    assert sum(e.kind == "delta" for e in t.current.files) >= n_deltas

    df = t.read()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan, "MoR resolve regressed to per-version unions"

    got = {r.k: r.v for r in df.collect()}
    assert len(got) == 100  # commit i touches k=i,i+1 — all inside 0..99
    # key k was last touched by commit i = max(i in {k-1, k}) -> v = k
    for k in range(1, n_deltas + 1):
        assert got[k] == float(k), (k, got[k])
    assert got[0] == 0.0 and got[n_deltas + 1] == float(n_deltas)
    assert got[n_deltas + 2] == 0.0


# ---------- MoR deletion vectors (tombstones) ----------


def _mor(spark, tdir, n=200):
    return ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, n), num_files=2,
        table_mode="mor", primary_keys=("key",),
    )


def test_mor_delete_writes_tombstone_not_rewrite(spark, tdir):
    """MoR DELETE commits a pk-only deletion-vector file: zero data
    files rewritten, rows hidden at read time, metrics footer-derived."""
    t = _mor(spark, tdir)
    before = {e.path for e in t.current.files}
    m = t.delete("part = 3")
    assert m["files_rewritten"] == 0
    assert m["tombstones_added"] == 1
    assert m["rows_deleted"] == sum(1 for k in range(200) if k % 7 == 3)
    # every pre-existing file carries over by reference
    assert before <= {e.path for e in t.current.files}
    kinds = {e.kind for e in t.current.files}
    assert "tombstone" in kinds
    got = t.read()
    assert got.filter("part = 3").count() == 0
    assert got.count() == 200 - m["rows_deleted"]
    assert t.current.operation == "DELETE"


def test_mor_delete_no_match_is_noop(spark, tdir):
    t = _mor(spark, tdir)
    v = t.current.version
    m = t.delete("part = 99")
    assert m == {"rows_deleted": 0, "files_rewritten": 0, "files_added": 0}
    assert t.current.version == v  # no commit


def test_mor_update_rejects_primary_key_assignment(spark, tdir):
    """UPDATE SET <pk>= on a MoR table must be refused: the delta
    post-image would land under the NEW key and the old row would
    survive the latest-per-key resolve — a silent duplicate, not an
    update (Hudi likewise forbids mutating the record key). The CoW
    path rewrites the touched files and stays correct, so key-rewriting
    updates belong there."""
    t = _mor(spark, tdir)
    v = t.current.version
    with pytest.raises(ValueError, match="primary-key"):
        t.update({"key": "key + 1000"}, "part = 3")
    assert t.current.version == v  # nothing committed
    assert t.read().count() == 200


def test_mor_restore_across_delete_emits_resurrections(spark, tdir):
    """changes() across a RESTORE that removes a MoR deletion vector:
    the covered keys come BACK, so the feed must carry them as upserts
    with the RESOLVED payload — never as deletes (pk-only tombstone
    rows merged into the pre-images would read as the exact inverse,
    and a replica applying the feed would drop live keys)."""
    t = _mor(spark, tdir)
    t.delete("part = 3")  # v1: pk-only tombstone commit
    v_del = t.current.version
    t.restore(0)  # v2: the one non-skipped op that REMOVES a tombstone
    ch = t.changes(from_version=v_del)
    assert ch.filter("_change_type = 'delete'").count() == 0
    ups = ch.filter("_change_type = 'upsert'")
    n_res = sum(1 for k in range(200) if k % 7 == 3)
    assert ups.count() == n_res
    assert ups.filter("part = 3").count() == n_res
    # resolved post-image payload from the untouched base files, not
    # NULL-padded tombstone rows
    assert ups.filter("value IS NULL OR tag IS NULL").count() == 0


def test_mor_tombstone_resurrect(spark, tdir):
    """A newer delta supersedes a tombstone: merging a deleted key back
    makes it visible again with the new values."""
    t = _mor(spark, tdir)
    t.delete("key < 10")
    assert t.read().filter("key < 10").count() == 0
    src = _base_df(spark, 5).withColumn("value", F.col("value") + 1000)
    t.merge(src, on=["key"])
    back = t.read().filter("key < 10")
    assert back.count() == 5
    assert {r.key for r in back.collect()} == {0, 1, 2, 3, 4}
    assert all(r.value == r.key * 2.5 + 1000 for r in back.collect())


def test_mor_update_appends_delta(spark, tdir):
    """MoR UPDATE lands the post-image as a delta commit — zero
    rewrites; assignment RHS sees the old row and keeps the type."""
    t = _mor(spark, tdir)
    before = {e.path for e in t.current.files}
    m = t.update({"value": "value + 1"}, "part = 2")
    assert m["files_rewritten"] == 0 and m["rows_updated"] > 0
    assert before <= {e.path for e in t.current.files}
    assert t.current.operation == "UPDATE"
    got = t.read()
    assert got.count() == 200  # row count unchanged
    sample = got.filter("part = 2").collect()
    assert all(abs(r.value - (r.key * 2.5 + 1)) < 1e-9 for r in sample)
    other = got.filter("part = 1").collect()
    assert all(r.value == r.key * 2.5 for r in other)


def test_mor_merge_delete_writes_tombstones(spark, tdir):
    """when_matched='delete' on MoR (formerly a ValueError): matched
    keys tombstone, unmatched source rows insert — one commit, zero
    rewrites."""
    t = _mor(spark, tdir)
    src = _base_df(spark, 210).filter("key >= 195")  # 195..199 match, 200+ insert
    m = t.merge(src, on=["key"], when_matched="delete")
    assert m == {
        "matched_deleted": 5, "inserted": 10,
        "files_rewritten": 0, "files_added": 2,
    }
    got = t.read()
    assert got.count() == 200 - 5 + 10
    assert got.filter("key >= 195 AND key < 200").count() == 0
    assert got.filter("key >= 200").count() == 10


def test_optimize_folds_tombstones(spark, tdir):
    t = _mor(spark, tdir)
    t.delete("part = 0")
    t.update({"value": "value * 2"}, "part = 1")
    n_expected = t.read().count()
    m = t.optimize()
    assert m["tombstones_folded"] == 1 and m["deltas_folded"] == 1
    assert all(e.kind == "data" for e in t.current.files)
    assert t.read().count() == n_expected


def test_changes_emits_tombstone_deletes(spark, tdir):
    """CDF rows for a deletion-vector commit: _change_type='delete'
    carrying the keys. Payload columns are NULL when other commits give
    the feed the full schema, and absent in a delete-only feed — the
    documented no-O(table)-read contract either way."""
    t = _mor(spark, tdir)
    t.delete("key >= 198")
    only = t.changes(0)
    assert {r.key for r in only.collect()} == {198, 199}
    assert "value" not in only.columns  # delete-only feed: keys only
    # a later upsert widens the feed; delete rows surface NULL payload
    t.merge(_base_df(spark, 1), on=["key"])
    ch = t.changes(0)
    dels = ch.filter("_change_type = 'delete'").collect()
    assert {r.key for r in dels} == {198, 199}
    assert all(r.value is None for r in dels)
    ups = ch.filter("_change_type = 'upsert'").collect()
    assert [r.key for r in ups] == [0]


def test_clone_requires_fold_after_tombstone(spark, tdir):
    t = _mor(spark, tdir)
    t.delete("key = 0")
    with pytest.raises(ValueError, match="resolved file set"):
        t.clone(f"{tdir}/clone")
    t.optimize()
    c = t.clone(f"{tdir}/clone")
    assert c.read().count() == 199


def test_time_travel_spans_tombstones(spark, tdir):
    t = _mor(spark, tdir)
    t.delete("part = 5")
    assert t.read(version=0).count() == 200
    assert t.read().count() < 200


# ---------- MERGE full sync (WHEN NOT MATCHED BY SOURCE) ----------


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_full_sync_scope_semantics(spark, tdir, mode):
    """Inside the scope the table becomes exactly the source (update +
    insert + delete); outside it nothing changes. CoW rewrites the
    touched files; MoR commits tombstones + a delta with zero
    rewrites."""
    t = ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, 100), num_files=4,
        table_mode=mode, primary_keys=("key",),
    )
    # snapshot of part=2: keep only even keys, bump value; plus one new key
    snap = (
        _base_df(spark, 100)
        .filter("part = 2 AND key % 2 = 0")
        .withColumn("value", F.col("value") + 7)
        .unionByName(
            _base_df(spark, 1).select(
                F.lit(500).alias("key"), F.lit(2).alias("part"),
                F.lit(1.0).alias("value"), F.lit("new").alias("tag"),
            )
        )
    )
    m = t.merge(
        snap, on=["key"],
        when_not_matched_by_source="delete", source_scope="part = 2",
    )
    got = t.read()
    in_scope = got.filter("part = 2").collect()
    n_part2 = len([k for k in range(100) if k % 7 == 2])
    n_even = len([k for k in range(100) if k % 7 == 2 and k % 2 == 0])
    assert m["deleted_not_matched_by_source"] == n_part2 - n_even
    assert m["inserted"] == 1
    assert m["matched_updated"] == n_even
    assert len(in_scope) == n_even + 1
    assert all(r.key == 500 or abs(r.value - (r.key * 2.5 + 7)) < 1e-9 for r in in_scope)
    # out of scope untouched
    assert got.filter("part != 2").count() == 100 - n_part2
    if mode == "mor":
        assert m["files_rewritten"] == 0
        assert any(e.kind == "tombstone" for e in t.current.files)
    else:
        assert m["files_rewritten"] > 0


def test_merge_full_sync_arg_validation(spark, tdir):
    t = ManagedTable.create(spark, f"{tdir}/t", _base_df(spark, 10))
    with pytest.raises(ValueError, match="None\\|'delete'"):
        t.merge(_base_df(spark, 5), on=["key"], when_not_matched_by_source="update")
    with pytest.raises(ValueError, match="full-sync"):
        t.merge(
            _base_df(spark, 5), on=["key"],
            when_matched="delete", when_not_matched_by_source="delete",
        )


def test_tombstone_resolve_plan_stays_flat(spark, tdir):
    """Interleaved tombstone + delta commits must keep the ONE-scan
    resolve plan (the tombstone flag rides a second path→literal map on
    the same scan, never a join or a per-version union)."""
    t = _mor(spark, tdir, n=100)
    for i in range(5):
        t.delete(f"key % 17 = {i}")
        t.merge(
            _base_df(spark, 100).filter(f"key % 13 = {i}").withColumn(
                "value", F.col("value") + i
            ),
            on=["key"],
        )
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert "Join" not in plan


def test_vacuum_reclaims_folded_tombstones(spark, tdir):
    """After OPTIMIZE folds a tombstone and VACUUM drops the old
    versions, the tombstone file is physically gone and the resolved
    state is intact."""
    t = _mor(spark, tdir)
    t.delete("part = 4")
    ts_paths = [e.path for e in t.current.files if e.kind == "tombstone"]
    assert ts_paths
    n = t.read().count()
    t.optimize()
    t.vacuum(retain_versions=1)
    root = t.root
    assert not any(
        os.path.exists(os.path.join(root, p)) for p in ts_paths
    ), "vacuum left the folded tombstone file behind"
    assert t.read().count() == n


def test_restore_across_tombstone_version(spark, tdir):
    """RESTORE to the pre-delete version resurrects everything (the
    rollback references the old file set; the tombstone stays out of
    it), and the restore is itself a new version — the delete remains
    in history."""
    t = _mor(spark, tdir)
    t.delete("key < 50")
    assert t.read().count() == 150
    t.restore(0)
    assert t.read().count() == 200
    assert all(e.kind == "data" for e in t.current.files)
    ops = [r.operation for r in t.history().collect()]
    assert ops[0] == "RESTORE" and "DELETE" in ops


# ---------- ALTER CLUSTER BY (layout-spec evolution) ----------


def test_set_cluster_by_is_metadata_only(spark, tdir):
    t = ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, 500), cluster_by=("key",), num_files=5
    )
    before = [e.path for e in t.current.files]
    m = t.set_cluster_by(("part",))
    assert m == {"files_carried": 5, "files_rewritten": 0}
    assert [e.path for e in t.current.files] == before
    assert t.current.operation == "ALTER"
    assert t.current.cluster_by == ["part"]
    assert t.read().count() == 500
    with pytest.raises(ValueError, match="not in schema"):
        t.set_cluster_by(("nope",))


def test_cluster_evolution_new_writes_new_stats(spark, tdir):
    """Post-alter writes CLUSTER by the new key so pruning on it skips
    new files; old files carry part stats too (universal column stats)
    but — written key-clustered — their part ranges span the whole 0..6
    domain, so they are always scanned: never a false skip, and the row
    set stays exact."""
    t = ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, 700), cluster_by=("key",), num_files=7
    )
    t.set_cluster_by(("part",))
    extra = _base_df(spark, 770).filter("key >= 700")  # parts 0..6 spread
    t.append(extra, num_files=7)
    new_entries = [e for e in t.current.files if "v00002" in e.path]
    assert new_entries and all("part" in e.stats for e in new_entries)
    old_entries = [e for e in t.current.files if "v00000" in e.path]
    # universal stats: old files are statted on part as well, but the
    # key-clustered write makes every old file's range the full domain —
    # true ranges can widen a scan, never corrupt it
    assert all(e.stats["part"] == [0, 6] for e in old_entries)
    pruned = t.read(prune={"part": 3})
    n_scanned = pruned.select(F.input_file_name()).distinct().count()
    assert n_scanned < len(t.current.files)  # new files pruned
    assert n_scanned >= len(old_entries)  # old files all scanned
    assert pruned.filter("part = 3").count() == 770 // 7
    # full read unharmed
    assert t.read().count() == 770


def test_zorder_after_evolution_restats_everything(spark, tdir):
    t = ManagedTable.create(
        spark, f"{tdir}/t", _base_df(spark, 300), cluster_by=("key",), num_files=3
    )
    t.set_cluster_by(("part",))
    t.zorder(by=("part", "key"), num_files=4)
    assert all(
        "part" in e.stats and "key" in e.stats for e in t.current.files
    )
    pruned = t.read(prune={"part": 1})
    assert pruned.filter("part = 1").count() == 300 // 7 + (1 if 1 < 300 % 7 else 0)


def test_merge_candidate_range_pruning(spark, tmp_path):
    """The Hudi-bloom-index range stage: the merge's touch probe scans
    only files whose manifest key range may hold a source key. Point
    source keys inside one file's range select one candidate; a
    no-usable-range file (tombstone-style empty stats) stays candidate
    conservatively; the full merge result stays exact."""
    from pyspark.sql import functions as F

    from lhbench_spark.tables import FileEntry, ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 800),
        cluster_by=("key",), num_files=8,
    )
    src_keys = spark.range(0, 10).selectExpr("id AS key")
    cands = t._merge_candidate_files(t.current.files, src_keys, "key")
    assert 1 <= len(cands) < 8  # keys 0..9 live in the first key-range file
    # a file with no range on the key must remain a candidate
    blind = FileEntry(path="x.parquet", rows=1, bytes=1, stats={})
    cands2 = t._merge_candidate_files(
        t.current.files + [blind], src_keys, "key"
    )
    assert blind in cands2
    # end-to-end: merge stays exact and rewrites only the probed file
    src = _base_df(spark, 820).filter("key < 10 OR key >= 800").withColumn(
        "value", F.col("value") + 0.5
    )
    metrics = t.merge(src, on=["key"])
    assert metrics["files_rewritten"] == 1
    assert metrics["matched_updated"] == 10 and metrics["inserted"] == 20
    got = t.read()
    assert got.count() == 820
    assert got.filter("key < 10 AND value = key * 2.5 + 0.5").count() == 10


def test_stat_value_realization_preserves_order():
    """_stat_value maps footer stats into JSON-safe realizations; the
    prune range check compares a probe against them, so the mapping
    must preserve ordering within each type class — dates/datetimes map
    to ISO strings, whose lexicographic order IS chronological order
    (fixed-width zero-padded fields)."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lhbench_spark.tables import _stat_value

    @given(
        st.lists(
            st.datetimes(
                min_value=dt.datetime(1900, 1, 1),
                max_value=dt.datetime(2199, 12, 31),
            ),
            min_size=2,
            max_size=8,
        )
    )
    @settings(max_examples=200, deadline=None)
    def check(vals):
        realized = [_stat_value(v) for v in vals]
        assert all(isinstance(r, str) for r in realized)
        assert (
            sorted(range(len(vals)), key=lambda i: vals[i])
            == sorted(range(len(vals)), key=lambda i: realized[i])
        )

    check()
    # scalar passthrough classes keep identity (hence ordering)
    for v in (0, -7, 3.5, "abc", True):
        assert _stat_value(v) == v
    assert _stat_value(b"bytes") is None  # not stat-able, never compared


def test_prune_never_loses_rows_randomized(spark, tmp_path):
    """Randomized no-false-skip property over every statted column:
    for any probe value (in-domain, boundary, or out-of-domain), the
    pruned read must contain exactly the rows the full read has at that
    value — pruning may shrink the scan, never the answer."""
    import random

    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 1000),
        cluster_by=("key",), num_files=7,
    )
    full = t.read()
    rng = random.Random(1234)
    probes = []
    for _ in range(12):
        k = rng.randrange(-50, 1100)  # includes out-of-domain
        probes += [
            ("key", k),
            ("part", k % 7),
            ("value", k * 2.5),
            ("tag", f"row-{k}"),
        ]
    for col, v in probes:
        pruned = t.read(prune={col: v})
        want = full.filter(F.col(col) == F.lit(v)).count()
        got = pruned.filter(F.col(col) == F.lit(v)).count()
        assert got == want, (col, v, got, want)


@pytest.mark.parametrize("seed", [7, 99, 4242])
def test_merge_with_candidate_pruning_randomized(spark, tmp_path, seed):
    """Randomized merge equivalence under candidate pruning: arbitrary
    source key sets (clustered points, scattered points, out-of-domain
    inserts) must produce exactly the relational upsert — pruning only
    changes which files the probe scans, never the result."""
    import random

    from lhbench_spark.tables import ManagedTable

    rng = random.Random(seed)
    n = 600
    t = ManagedTable.create(
        spark, str(tmp_path / f"t{seed}"), _base_df(spark, n),
        cluster_by=("key",), num_files=6,
    )
    keys = sorted(
        set(
            [rng.randrange(0, 80) for _ in range(rng.randrange(1, 20))]
            + [rng.randrange(0, n + 200) for _ in range(rng.randrange(0, 30))]
        )
    )
    src = (
        spark.createDataFrame([(k,) for k in keys], "key bigint")
        .selectExpr(
            "key",
            "CAST(key % 7 AS BIGINT) AS part",
            "CAST(-1.0 AS DOUBLE) AS value",
            "concat('upd-', key) AS tag",
        )
    )
    metrics = t.merge(src, on=["key"])
    got = t.read()
    n_matched = sum(1 for k in keys if k < n)
    n_inserted = len(keys) - n_matched
    assert metrics["matched_updated"] == n_matched
    assert metrics["inserted"] == n_inserted
    assert got.count() == n + n_inserted
    assert got.filter("value = -1.0").count() == len(keys)
    assert got.filter(F.col("key").isin(keys) & (F.col("value") != -1.0)).count() == 0
    # untouched rows keep their original payload
    assert (
        got.filter(~F.col("key").isin(keys))
        .filter("value != key * 2.5")
        .count()
        == 0
    )


def test_stats_predicate_may_match(spark):
    """_StatsPredicate tri-state semantics: definite impossibility
    prunes, anything unintelligible stays a candidate."""
    from lhbench_spark.tables import _StatsPredicate

    stats = {"part": [0, 6], "key": [0, 99], "tag": ["row-0", "row-99"],
             "ts": ["1997-01-01T00:00:00", "1997-06-30T00:00:00"]}

    def may(cond, st=stats):
        return _StatsPredicate.parse(spark, cond).may_match(st)

    assert may("part = 3") and not may("part = 9")
    assert may("3 = part") and not may("9 = part")  # literal-first flip
    assert not may("part > 6") and may("part >= 6")
    assert not may("part < 0") and may("part < 1")
    assert not may("key >= 700 AND part = 3")  # And: one side impossible
    assert may("key >= 700 OR part = 3")       # Or: one side possible
    assert may("part IN (2, 9)") and not may("part IN (8, 9)")
    assert may("part BETWEEN 5 AND 9") and not may("part BETWEEN 7 AND 9")
    assert not may("key BETWEEN -9 AND -1") and may("7 BETWEEN part AND key")
    assert may("part NOT BETWEEN 0 AND 6")  # NOT: unknown, stays candidate
    assert may("tag = 'row-5'") and not may("tag = 'zzz'")
    assert not may("ts >= TIMESTAMP '1998-01-01'")   # beyond the 26h slack
    assert may("ts >= TIMESTAMP '1997-06-29 12:00:00'")  # inside slack
    # conservative unknowns: modulo, NOT, IS NULL, missing col, bad types
    assert may("key % 100 = 7")
    assert may("NOT (part = 9)")
    assert may("part IS NULL")
    assert may("nope = 1")
    assert may("tag = 5")
    assert may("part = 3 AND nonsense_func(key) > 2") is True
    assert not may("part = 9 AND nonsense_func(key) > 2")
    # empty stats / unparseable predicate: always candidate
    assert _StatsPredicate.parse(spark, "part = 9").may_match({})
    assert _StatsPredicate.parse(spark, "this is ( not sql").may_match(stats)
    # the parsed predicate is a plain Python tree: evaluating it per file
    # makes no JVM call
    assert _StatsPredicate.parse(spark, "part = 3 AND key IN (1, 2)").tree == (
        "and", [("=", "part", 3), ("or", [("=", "key", 1), ("=", "key", 2)])]
    )
    assert _StatsPredicate.parse(spark, "key BETWEEN 5 AND 8").tree == (
        "and", [(">=", "key", 5), ("<=", "key", 8)]
    )


def test_delete_prunes_probe_by_predicate_stats(spark, tmp_path):
    """DELETE WHERE on a time-sliced (append-ordered) table: the stats
    evaluator confines both the touch probe and the rewrite to the
    slices the predicate can reach, and the surviving rows are exact."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "t"),
        _base_df(spark, 250), cluster_by=("key",), num_files=2,
    )
    for lo in (250, 500, 750):
        t.append(
            _base_df(spark, lo + 250).filter(f"key >= {lo}"), num_files=2
        )
    m = t.delete("key >= 750")
    assert m["rows_deleted"] == 250
    assert m["files_rewritten"] == 2  # only the last slice's files
    assert t.read().count() == 750
    assert t.read().agg(F.max("key")).collect()[0][0] == 749
    # an impossible predicate touches nothing at all
    m2 = t.delete("key >= 10000")
    assert m2 == {"rows_deleted": 0, "files_rewritten": 0, "files_added": 0}


def test_scan_equals_filtered_read(spark, tmp_path):
    """scan(where) must equal read().filter(where) for arbitrary
    predicates while opening only the slices the predicate can reach;
    on MoR, pruned base losers never change the resolve."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "t"),
        _base_df(spark, 300), cluster_by=("key",), num_files=3,
    )
    for lo in (300, 600):
        t.append(_base_df(spark, lo + 300).filter(f"key >= {lo}"), num_files=3)
    for cond in (
        "key >= 750",
        "key BETWEEN 100 AND 110",
        "part = 3 AND key < 50",
        "key % 97 = 5",          # unintelligible to stats: full candidacy
        "tag = 'row-42'",
        "key >= 10000",          # impossible
    ):
        want = sorted(t.read().filter(cond).collect())
        got = sorted(t.scan(cond).collect())
        assert got == want, cond
    # MoR: deltas supersede rows in a slice the predicate excludes
    mt = ManagedTable.create(
        spark, str(tmp_path / "m"), _base_df(spark, 400), num_files=4,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    upd = _base_df(spark, 400).filter("key < 20").withColumn(
        "value", F.col("value") + 10000.0
    )
    mt.merge(upd, on=["key"])
    for cond in ("value > 9000", "key >= 350", "key < 10"):
        want = sorted(mt.read().filter(cond).collect())
        got = sorted(mt.scan(cond).collect())
        assert got == want, cond


def test_optimize_where_scopes_compaction(spark, tmp_path):
    """OPTIMIZE WHERE: only small files in the predicate's reach are
    rewritten; out-of-scope small files survive untouched."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "t"),
        _base_df(spark, 200), cluster_by=("key",), num_files=4,
    )
    t.append(_base_df(spark, 400).filter("key >= 200"), num_files=4)
    before = {e.path for e in t.current.files}
    m = t.optimize(target_file_rows=10_000, where="key >= 200")
    assert m["files_removed"] == 4 and m["files_added"] == 1
    # the first slice's files carried over by reference
    kept = {e.path for e in t.current.files}
    assert len([p for p in before if p in kept]) == 4
    assert t.read().count() == 400
    with pytest.raises(ValueError, match="MoR"):
        mt = ManagedTable.create(
            spark, str(tmp_path / "m"), _base_df(spark, 50), num_files=2,
            table_mode="mor", primary_keys=("key",),
        )
        mt.merge(_base_df(spark, 50).filter("key < 5"), on=["key"])
        mt.optimize(where="key < 5")


def test_stats_predicate_string_literal_vs_temporal_stats(spark):
    """A STRING literal compared against ISO-realized temporal stats
    must re-enter the temporal comparison space: Spark casts the
    literal to timestamp at execution, while the stats carry
    'T'-separated ISO strings — a lexicographic compare would rank
    '1997-01-01 12:00:00' (space) before '1997-01-01T00:00:00' and
    false-skip a file whose rows match."""
    from lhbench_spark.tables import _StatsPredicate

    stats = {"ts": ["1997-01-01T00:00:00", "1997-01-01T23:00:00"]}

    def may(cond):
        return _StatsPredicate.parse(spark, cond).may_match(stats)

    # all four would false-skip under lexicographic ordering
    assert may("ts = '1997-01-01 12:30:00'")
    assert may("ts <= '1997-01-01'")
    assert may("ts >= '1997-01-01 22:00:00'")
    assert may("ts IN ('1997-01-01 05:00:00')")
    # genuinely unreachable instants still prune (beyond the 26h slack)
    assert not may("ts >= '1997-01-10 00:00:00'")
    assert not may("ts = '1996-12-01 00:00:00'")
    # unparseable literal vs temporal-looking stats: stay a candidate
    assert may("ts = 'not-a-time'")
    # plain string stats keep lexicographic semantics
    assert not _StatsPredicate.parse(spark, "tag = 'zzz'").may_match(
        {"tag": ["row-0", "row-99"]}
    )


def test_scan_conforms_schema_after_evolution(spark, tmp_path):
    """scan() after additive evolution: pruning can drop every file
    carrying the evolved column — the result must still expose the full
    schema (typed nulls) and MoR UPDATE's post-image projection must
    not crash."""
    from lhbench_spark.tables import ManagedTable

    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 100),
        cluster_by=("key",), num_files=2,
    )
    extra = _base_df(spark, 200).filter("key >= 100").withColumn(
        "note", F.lit("new")
    )
    t.append(extra, num_files=2, merge_schema=True)
    got = t.scan("key < 50")  # old-slice files only — none carry 'note'
    assert set(got.columns) == set(t.read().columns)
    assert got.count() == 50
    assert got.filter("note IS NULL").count() == 50
    # MoR: update matching only pre-evolution rows
    mt = ManagedTable.create(
        spark, str(tmp_path / "m"), _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    mt.append(
        _base_df(spark, 200).filter("key >= 100").withColumn(
            "note", F.lit("new")
        ),
        num_files=2, merge_schema=True,
    )
    m = mt.update({"value": "value + 1000"}, "key < 10")
    assert m["rows_updated"] == 10
    assert mt.read().filter("value >= 1000 AND key < 10").count() == 10


# -- MoR supersede-aware stats pruning (round 10; r9 ADVICE high) -------------
# MoR append() is an upsert: an appended file at a HIGHER commit version
# out-ranks older delta/base rows in the latest-per-key resolve, so it is
# recorded as a delta and scan()/read(prune=) never stats-prune it — its
# rows failing the predicate is exactly the case where pruning it would
# resurrect the superseded older row as a false resolve winner (and,
# since MoR delete/update match via scan(), tombstone or rewrite keys
# whose live row does NOT match — persistent corruption).


def _mor_upsert_table(spark, root):
    """MoR table with the hazard layout: v0 base (keys 0-99), v1 delta
    (keys 0-19 pushed to value>10000), v2 APPEND superseding keys 10-14
    back down to value=-1."""
    t = ManagedTable.create(
        spark, root, _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    t.merge(
        _base_df(spark, 100).filter("key < 20").withColumn(
            "value", F.col("value") + 10000.0
        ),
        on=["key"],
    )
    t.append(
        _base_df(spark, 100).filter("key >= 10 AND key < 15").withColumn(
            "value", F.lit(-1.0)
        )
    )
    return t


def test_scan_never_prunes_superseding_append(spark, tmp_path):
    """The r9-advice corruption shape: the predicate excludes the
    appended rows, so the old code pruned the append file and the v1
    delta rows (value>10000) resurrected for keys 10-14."""
    t = _mor_upsert_table(spark, str(tmp_path / "t"))
    live = {r["key"]: r["value"] for r in t.read().collect()}
    assert all(live[k] == -1.0 for k in range(10, 15))  # append supersedes
    for cond in ("value > 9000", "value < 0", "key >= 10 AND key < 15"):
        want = sorted(t.read().filter(cond).collect())
        got = sorted(t.scan(cond).collect())
        assert got == want, cond
    keys_hi = {r["key"] for r in t.scan("value > 9000").collect()}
    assert keys_hi == set(range(10)) | set(range(15, 20))


def test_read_prune_respects_mor_supersede(spark, tmp_path):
    """read(prune=) point lookup: probing a value held ONLY by the
    superseded delta rows must not surface them (the append file's
    stats exclude the probe, but pruning it would resurrect them)."""
    t = _mor_upsert_table(spark, str(tmp_path / "t"))
    probe_val = 10000.0 + 12 * 2.5  # the v1 delta value for key=12
    got = t.read(prune={"value": probe_val}).filter(
        F.col("value") == probe_val
    ).collect()
    assert got == []  # key 12's live row is the appended value=-1.0


def test_mor_delete_matches_live_rows_not_superseded(spark, tmp_path):
    """MoR delete matches via scan(): deleting value>9000 must remove
    exactly the keys whose LIVE row matches (0-9, 15-19) and leave the
    appended keys 10-14 (live value=-1) alone."""
    t = _mor_upsert_table(spark, str(tmp_path / "t"))
    m = t.delete("value > 9000")
    assert m["rows_deleted"] == 15
    live = {r["key"]: r["value"] for r in t.read().collect()}
    assert set(range(10, 15)) <= set(live)
    assert all(live[k] == -1.0 for k in range(10, 15))
    assert not (set(range(10)) | set(range(15, 20))) & set(live)


def test_mor_disjoint_append_still_prunes(spark, tmp_path):
    """The scale path survives the soundness fix: an appended file whose
    pk range is DISJOINT from every older file stays a data file, so a
    time-ordered MoR ingest keeps its slice skipping — the evaluator
    selects (and the scan plan reads) only the base file whose range can
    hold the predicate, plus the delta."""
    from lhbench_spark.tables import _StatsPredicate, _strip_uri

    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    t.merge(
        _base_df(spark, 100).filter("key < 20").withColumn(
            "value", F.col("value") + 10000.0
        ),
        on=["key"],
    )
    t.append(_base_df(spark, 300).filter("key >= 200"), num_files=2)
    files = t.current.files
    assert [e.kind for e in files] == ["data", "data", "delta", "data", "data"]
    cond = "key BETWEEN 5 AND 8"
    selected = _StatsPredicate.parse(spark, cond).select(files)
    assert [e.kind for e in selected] == ["data", "delta"]
    assert selected[0].stats["key"][0] == 0  # the base file holding 5-8
    scan = t.scan(cond)
    assert {_strip_uri(p) for p in scan.inputFiles()} == {
        t._abs(e) for e in selected
    }
    want = sorted(t.read().filter(cond).collect())
    assert sorted(scan.collect()) == want


def test_merge_candidate_pruning_small_table_bypass(spark, tmp_path):
    """Below MERGE_PRUNE_MIN_FILES the candidate range-join job is pure
    overhead at this scale — _maybe_prune_candidates must return the
    file list untouched (identity, no Spark job); above the threshold
    it must delegate to the real range pruning."""
    from lhbench_spark.tables import (
        MERGE_PRUNE_MIN_FILES,
        FileEntry,
        ManagedTable,
    )

    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 800),
        cluster_by=("key",), num_files=8,
    )
    src_keys = spark.range(0, 10).selectExpr("id AS key")
    small = t._maybe_prune_candidates(t.current.files, src_keys, "key")
    assert small is t.current.files  # identity: bypassed, no job
    # synthetic manifest above the threshold: pruning engages
    big = [
        FileEntry(
            path=f"data/v00000/f{i}.parquet", rows=10, bytes=10,
            stats={"key": [i * 100, i * 100 + 99]},
        )
        for i in range(MERGE_PRUNE_MIN_FILES + 8)
    ]
    pruned = t._maybe_prune_candidates(big, src_keys, "key")
    assert [e.path for e in pruned] == [big[0].path]


# -- Randomized MoR history property test (round 10; r9 VERDICT #6) -----------
# The contracts scan()/read(prune=)/DML exactness lean on, exercised
# over random interleavings of every MoR write op: after ANY history,
# (a) read() equals a driver-side model of latest-per-key upsert
# semantics, (b) scan(w) == read().filter(w) for arbitrary predicates,
# and (c) the resolve is stable (two reads agree). This covers the
# append-supersede precedence (appends above deltas), tombstone
# precedence, and rewrite interleavings the example-based tests can't
# enumerate.

def _history_df(spark, rows):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField("key", LongType()),
        StructField("part", LongType()),
        StructField("value", DoubleType()),
        StructField("tag", StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def test_mor_random_histories_scan_read_equivalence(spark, tmp_path):
    import functools
    import os
    import random

    # 6 histories by default (~31 s): the r10 100-history sweep found its
    # bugs and then overran the driver's verify window (r10 VERDICT #1),
    # and even 20 cost 105 s of the gate; the full sweep stays one env
    # var away for nightly/regression use.
    N_HISTORIES = int(os.environ.get("LHBENCH_PROPERTY_HISTORIES", "6"))
    for h in range(N_HISTORIES):
        rng = random.Random(1000 + h)
        model: dict[int, tuple] = {}

        def rows_for(keys):
            out = []
            for k in keys:
                r = (k, k % 7, float(rng.randint(-50, 50)), f"t-{k}-{rng.randint(0, 9)}")
                out.append(r)
            return out

        def apply_rows(rs):
            for r in rs:
                model[r[0]] = r

        init_keys = rng.sample(range(60), rng.randint(5, 20))
        init = rows_for(init_keys)
        apply_rows(init)
        t = ManagedTable.create(
            spark, str(tmp_path / f"h{h}"), _history_df(spark, init),
            num_files=rng.randint(1, 3), cluster_by=("key",),
            table_mode="mor", primary_keys=("key",), validate_count=False,
        )
        for _ in range(rng.randint(2, 4)):
            op = rng.choice([
                "append", "merge", "merge_delete", "merge_full_sync",
                "apply_changes", "delete", "update", "optimize",
            ])
            if op == "append":
                # mixes fresh and superseding keys — the advertised
                # MoR append-as-upsert semantics
                ks = rng.sample(range(60), rng.randint(1, 8))
                rs = rows_for(ks)
                t.append(_history_df(spark, rs), num_files=1)
                apply_rows(rs)
            elif op == "merge":
                ks = rng.sample(range(60), rng.randint(1, 10))
                rs = rows_for(ks)
                t.merge(_history_df(spark, rs), on=["key"])
                apply_rows(rs)
            elif op == "merge_delete":
                ks = rng.sample(range(60), rng.randint(1, 8))
                rs = rows_for(ks)
                t.merge(_history_df(spark, rs), on=["key"], when_matched="delete")
                for r in rs:
                    if r[0] in model:
                        del model[r[0]]
                    else:
                        model[r[0]] = r
            elif op == "merge_full_sync":
                ks = rng.sample(range(60), rng.randint(1, 10))
                rs = rows_for(ks)
                scope, in_scope = rng.choice([
                    (None, lambda r: True),
                    *[(f"part = {p}", lambda r, p=p: r[1] == p) for p in range(7)],
                    *[(f"value > {c}", lambda r, c=c: r[2] > c) for c in (-20, 0, 20)],
                ])
                t.merge(
                    _history_df(spark, rs), on=["key"],
                    when_not_matched_by_source="delete", source_scope=scope,
                )
                model = {k: r for k, r in model.items() if k in ks or not in_scope(r)}
                apply_rows(rs)
            elif op == "apply_changes":
                # a random feed of upserts and deletes, some keys acted on
                # twice: the action with the higher _commit_version wins
                feed = []
                for k in rng.sample(range(60), rng.randint(1, 10)):
                    for v in rng.sample(range(1, 5), rng.randint(1, 2)):
                        ct = rng.choice(["insert", "update_postimage", "upsert", "delete"])
                        feed.append((*rows_for([k])[0], ct, v))
                for r in sorted(feed, key=lambda r: r[5]):
                    if r[4] == "delete":
                        model.pop(r[0], None)
                    else:
                        model[r[0]] = r[:4]
                schema = _history_df(spark, []).schema
                t.apply_changes(spark.createDataFrame(
                    feed,
                    schema.add("_change_type", "string").add("_commit_version", "long"),
                ))
            elif op == "delete":
                cut = rng.randint(-40, 40)
                t.delete(f"value > {cut}")
                model = {k: r for k, r in model.items() if not r[2] > cut}
            elif op == "update":
                cut = rng.randint(-40, 40)
                t.update({"value": "value + 1000"}, f"key < {cut}")
                model = {
                    k: (r[0], r[1], r[2] + 1000 if k < cut else r[2], r[3])
                    for k, r in model.items()
                }
            else:
                t.optimize(target_file_rows=10_000)
        got = sorted(tuple(r) for r in t.read().collect())
        want = sorted(model.values())
        assert got == want, f"history {h}: read() != model"
        assert got == sorted(tuple(r) for r in t.read().collect()), (
            f"history {h}: resolve unstable"
        )
        for cond in (f"value > {rng.randint(-30, 30)}",
                     f"key BETWEEN {rng.randint(0, 30)} AND {rng.randint(31, 59)}"):
            w = sorted(tuple(r) for r in t.read().filter(cond).collect())
            s = sorted(tuple(r) for r in t.scan(cond).collect())
            assert s == w, f"history {h}: scan({cond}) != read().filter"
        # read(prune=) point lookups through the same evaluator, over
        # layouts with overlapping appends, deltas and tombstones
        ks = rng.sample(range(60), 3)
        pruned = functools.reduce(lambda a, b: a.unionByName(b), [
            t.read(prune={"key": k}).filter(F.col("key") == k) for k in ks
        ])
        w = sorted(tuple(r) for r in t.read().filter(F.col("key").isin(ks)).collect())
        assert sorted(tuple(r) for r in pruned.collect()) == w, (
            f"history {h}: read(prune={{key: k}}) != read().filter for {ks}"
        )


def test_mor_fresh_key_appends_skip_resolve(spark, tmp_path):
    """The streaming-ingest fast path: data-only multi-version MoR
    layouts whose cross-version pk ranges are provably disjoint skip
    the latest-per-key resolve entirely (no pk window shuffle in the
    read plan); one overlapping append brings it back."""
    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    t.append(_base_df(spark, 200).filter("key >= 100"), num_files=2)
    t.append(_base_df(spark, 300).filter("key >= 200"), num_files=2)
    assert not t._needs_resolve(t.current.files)
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert t.read().count() == 300
    # now supersede key 50 — resolve must engage and dedupe
    t.append(_base_df(spark, 51).filter("key = 50").withColumn(
        "value", F.lit(-5.0)
    ))
    assert t._needs_resolve(t.current.files)
    assert t.read().count() == 300
    assert t.read().filter("key = 50").collect()[0]["value"] == -5.0


def test_mor_append_records_precedence_in_kind(spark, tmp_path):
    """A MoR append whose pk range may overlap a live file is recorded as
    a delta (it supersedes), a fresh-key append stays data, and the
    change feed tags the superseding rows as upserts."""
    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )
    t.append(_base_df(spark, 200).filter("key >= 150"))
    assert t.current.files[-1].kind == "data"
    t.append(_base_df(spark, 60).filter("key >= 50").withColumn("value", F.lit(-1.0)))
    assert t.current.files[-1].kind == "delta"
    live = {r["key"]: r["value"] for r in t.read().collect()}
    assert len(live) == 150 and all(live[k] == -1.0 for k in range(50, 60))
    feed = t.changes(1).collect()
    assert {r["_change_type"] for r in feed} == {"upsert"}
    assert sorted(r["key"] for r in feed) == list(range(50, 60))
    assert t.optimize()["deltas_folded"] == 1


def test_mor_append_kind_redecided_after_lost_race(spark, tmp_path):
    """The append's kind is decided against the version it commits on
    top of: keys fresh against the snapshot it staged on, but written by
    a concurrent append that wins the commit race, make it a delta on
    the rebased commit, restaged at that version so the later write wins
    the resolve."""
    from lhbench_spark.tables import TableFS

    root = str(tmp_path / "t")
    ManagedTable.create(
        spark, root, _base_df(spark, 100), num_files=2,
        cluster_by=("key",), table_mode="mor", primary_keys=("key",),
    )

    class RacingFS(TableFS):
        racer = None

        def commit_text(self, path, text):
            racer, self.racer = self.racer, None
            if racer is not None:
                racer()
            return super().commit_text(path, text)

    fs = RacingFS()
    t = ManagedTable(spark, root, fs)
    fs.racer = lambda: ManagedTable(spark, root).append(
        _base_df(spark, 110).filter("key >= 100").withColumn("value", F.lit(-1.0))
    )
    m = t.append(_base_df(spark, 105).filter("key >= 100").withColumn("value", F.lit(-2.0)))
    assert m["rows_appended"] == 5
    assert t.current.version == 2
    assert [e.kind for e in t.current.files[-2:]] == ["data", "delta"]
    assert t.current.files[-1].path.startswith(os.path.join("data", "v00002-"))
    got = {r["key"]: r["value"] for r in t.read().filter("key >= 100").collect()}
    assert got == {**{k: -2.0 for k in range(100, 105)},
                   **{k: -1.0 for k in range(105, 110)}}


def _unreferenced_parquet(t) -> set[str]:
    """Parquet files under the table's data/ that no manifest lists."""
    listed = {
        os.path.normpath(os.path.join(t.root, e.path))
        for m in t.manifests
        for e in m.files
    }
    return {
        os.path.normpath(os.path.join(d, f))
        for d, _, names in os.walk(os.path.join(t.root, "data"))
        for f in names
        if f.endswith(".parquet")
    } - listed


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_empty_source_merge_stages_no_file(spark, tmp_path, mode):
    """A merge (update or matched-delete form) of an EMPTY source touches
    no file and brings no row: both appliers commit the carried files
    with nothing staged. No change side that holds no row leaves a file
    behind: an empty merge, an upsert-only apply_changes (no tombstone),
    a DELETE that matches nothing, and a full sync with no dead key."""
    t = ManagedTable.create(
        spark, str(tmp_path / "t"), _base_df(spark, 100), num_files=4,
        cluster_by=("key",), table_mode=mode, primary_keys=("key",),
    )
    files = [e.path for e in t.current.files]
    empty = _base_df(spark, 100).limit(0)
    for when_matched, counted in (("update", "matched_updated"), ("delete", "matched_deleted")):
        m = t.merge(empty, on=["key"], when_matched=when_matched)
        assert (m[counted], m["inserted"], m["files_added"]) == (0, 0, 0), when_matched
        assert [e.path for e in t.current.files] == files
        assert not _unreferenced_parquet(t), when_matched
    assert t.current.version == 2
    assert t.read().count() == 100

    feed = _base_df(spark, 5).withColumn(
        "_change_type", F.lit("update_postimage")
    ).withColumn("_commit_version", F.lit(1).cast("long"))
    m = t.apply_changes(feed)
    assert (m["upserts_applied"], m["deletes_applied"]) == (5, 0)
    assert not _unreferenced_parquet(t), "apply_changes"
    assert t.delete("key > 100000")["rows_deleted"] == 0
    assert not _unreferenced_parquet(t), "delete"
    m = t.merge(
        _base_df(spark, 10), on=["key"],
        when_not_matched_by_source="delete", source_scope="key < 10",
    )
    assert (m["matched_updated"], m["deleted_not_matched_by_source"]) == (10, 0)
    assert not _unreferenced_parquet(t), "full sync"
    assert "tombstone" not in {e.kind for e in t.current.files}
    assert t.read().count() == 100


# ---------- commit-path matrix ----------
#
# Every ManagedTable write commits through one staging function and one
# commit function; this matrix runs each write on a clustered CoW and MoR
# table through a recording TableFS, so each (mode, op) cell is also an
# enumerable fault-injection point for the commit protocol. The pinned
# metrics feed history() and the oracle-checked DML result columns, and
# the pinned Spark job counts are each write's job budget: a commit-path
# change that moves either changes behaviour.


def _mx_rows(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("key"),
        (F.col("id") % 7).alias("part"),
        (F.col("id") * 2.5).alias("value"),
        F.lit(tag).alias("tag"),
    )


def _mx_feed(spark):
    upserts = _mx_rows(spark, 190, 210, "fed").withColumn(
        "_change_type",
        F.when(F.col("key") < 200, "update_postimage").otherwise("insert"),
    )
    deletes = _mx_rows(spark, 0, 5, "gone").withColumn(
        "_change_type", F.lit("delete")
    )
    return upserts.unionByName(deletes).withColumn(
        "_commit_version", F.lit(1).cast("long")
    )


# op -> (setup or None, measured op); "create" measures the load itself
_MATRIX_OPS = {
    "create": (None, None),
    "merge": (None, lambda s, t, d: t.merge(_mx_rows(s, 150, 250, "m"), on=["key"])),
    "merge_delete": (None, lambda s, t, d: t.merge(
        _mx_rows(s, 150, 250, "m"), on=["key"], when_matched="delete")),
    "merge_full_sync": (None, lambda s, t, d: t.merge(
        _mx_rows(s, 150, 250, "m"), on=["key"],
        when_not_matched_by_source="delete", source_scope="part = 3")),
    "append": (None, lambda s, t, d: t.append(_mx_rows(s, 1000, 1020, "a"))),
    "delete": (None, lambda s, t, d: t.delete("part = 3")),
    "update": (None, lambda s, t, d: t.update({"value": "value + 1"}, "part = 2")),
    "optimize": (
        lambda s, t, d: t.merge(_mx_rows(s, 150, 250, "m"), on=["key"]),
        lambda s, t, d: t.optimize(),
    ),
    "zorder": (None, lambda s, t, d: t.zorder(("key", "part"))),
    "restore": (lambda s, t, d: t.delete("part = 3"), lambda s, t, d: t.restore(0)),
    "set_cluster_by": (None, lambda s, t, d: t.set_cluster_by(["part"])),
    "clone": (None, lambda s, t, d: t.clone(os.path.join(d, "clone"))),
    "apply_changes": (None, lambda s, t, d: t.apply_changes(_mx_feed(s))),
}

# (mode, op) -> (metrics, spark jobs)
_MATRIX_PINNED = {
    ("cow", "append"): ({"rows_appended": 20, "files_added": 1, "columns_added": 0}, 2),
    ("cow", "apply_changes"): (
        {
            "upserts_applied": 20,
            "deletes_applied": 5,
            "files_rewritten": 2,
            "files_added": 1,
        },
        13,
    ),
    ("cow", "clone"): ({"source_version": 0, "files_referenced": 4}, 0),
    ("cow", "create"): ({"num_output_rows": 200}, 4),
    ("cow", "delete"): (
        {"rows_deleted": 29, "files_rewritten": 4, "files_added": 1},
        5,
    ),
    ("cow", "merge"): (
        {"matched_updated": 50, "inserted": 50, "files_rewritten": 1, "files_added": 1},
        10,
    ),
    ("cow", "merge_delete"): (
        {"matched_deleted": 50, "inserted": 50, "files_rewritten": 1, "files_added": 1},
        13,
    ),
    ("cow", "merge_full_sync"): (
        {
            "matched_updated": 50,
            "inserted": 50,
            "deleted_not_matched_by_source": 21,
            "files_rewritten": 4,
            "files_added": 1,
        },
        12,
    ),
    ("cow", "optimize"): ({"files_removed": 4, "files_added": 1}, 2),
    ("cow", "restore"): ({"restored_from": 0, "files_referenced": 4}, 0),
    ("cow", "set_cluster_by"): ({"files_carried": 4, "files_rewritten": 0}, 0),
    ("cow", "update"): (
        {"rows_updated": 29, "files_rewritten": 4, "files_added": 1},
        5,
    ),
    ("cow", "zorder"): ({"files_removed": 4, "files_added": 8}, 5),
    ("mor", "append"): ({"rows_appended": 20, "files_added": 1, "columns_added": 0}, 4),
    ("mor", "apply_changes"): (
        {
            "upserts_applied": 20,
            "deletes_applied": 5,
            "files_rewritten": 0,
            "files_added": 2,
        },
        8,
    ),
    ("mor", "clone"): ({"source_version": 0, "files_referenced": 4}, 0),
    ("mor", "create"): ({"num_output_rows": 200}, 6),
    ("mor", "delete"): (
        {
            "rows_deleted": 29,
            "files_rewritten": 0,
            "files_added": 1,
            "tombstones_added": 1,
        },
        2,
    ),
    ("mor", "merge"): (
        {"matched_updated": 50, "inserted": 50, "files_rewritten": 0, "files_added": 1},
        7,
    ),
    ("mor", "merge_delete"): (
        {"matched_deleted": 50, "inserted": 50, "files_rewritten": 0, "files_added": 2},
        8,
    ),
    ("mor", "merge_full_sync"): (
        {
            "matched_updated": 50,
            "inserted": 50,
            "deleted_not_matched_by_source": 21,
            "files_rewritten": 0,
            "files_added": 2,
        },
        7,
    ),
    ("mor", "optimize"): (
        {
            "files_removed": 5,
            "files_added": 1,
            "deltas_folded": 1,
            "tombstones_folded": 0,
        },
        3,
    ),
    ("mor", "restore"): ({"restored_from": 0, "files_referenced": 4}, 0),
    ("mor", "set_cluster_by"): ({"files_carried": 4, "files_rewritten": 0}, 0),
    ("mor", "update"): (
        {"rows_updated": 29, "files_rewritten": 0, "files_added": 1},
        4,
    ),
    ("mor", "zorder"): ({"files_removed": 4, "files_added": 8}, 5),
}


def _count_jobs(spark, fn):
    import uuid

    sc = spark.sparkContext
    group = f"commit-matrix-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _run_matrix_cell(spark, root, mode, op):
    """(metrics, jobs, commit_text calls, versions committed, table)."""
    from collections import Counter

    from lhbench_spark.tables import TableFS

    class RecordingFS(TableFS):
        def __init__(self):
            self.calls = Counter()

        def commit_text(self, path, text):
            self.calls["commit_text"] += 1
            return super().commit_text(path, text)

    fs = RecordingFS()

    def create():
        return ManagedTable.create(
            spark, os.path.join(root, "t"), _mx_rows(spark, 0, 200, "base"),
            cluster_by=("key",), num_files=4, table_mode=mode,
            primary_keys=("key",), fs=fs,
        )

    setup, run = _MATRIX_OPS[op]
    if run is None:
        t, jobs = _count_jobs(spark, create)
        return t.current.metrics, jobs, fs.calls["commit_text"], 1, t
    t = create()
    if setup is not None:
        setup(spark, t, root)
    before_commits, before_version = fs.calls["commit_text"], t.current.version
    metrics, jobs = _count_jobs(spark, lambda: run(spark, t, root))
    if op == "clone":
        t = metrics
        metrics, versions = t.current.metrics, 1
    else:
        versions = t.current.version - before_version
    return metrics, jobs, fs.calls["commit_text"] - before_commits, versions, t


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("op", sorted(_MATRIX_OPS))
def test_commit_path_matrix(spark, tmp_path, mode, op):
    metrics, jobs, commits, versions, t = _run_matrix_cell(
        spark, str(tmp_path), mode, op
    )
    assert commits == versions >= 1
    for e in t.current.files:
        p = e.path if os.path.isabs(e.path) else os.path.join(t.root, e.path)
        assert os.path.exists(p), p
    assert not _unreferenced_parquet(t)
    want_metrics, want_jobs = _MATRIX_PINNED[(mode, op)]
    assert metrics == want_metrics
    assert jobs == want_jobs
