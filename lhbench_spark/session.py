"""SparkSession factory.

Mirrors the session configuration the reference applies before running
workloads (reference: src/main/scala/benchmark/TPCDSBenchmark.scala:84-87
sets crossJoin + broadcastTimeout; scripts/benchmarks.py:192-196 wires the
format extension). We additionally enable AQE and skew-join handling:
at 100 TB the runtime re-planning (dynamic coalescing, skew splitting,
broadcast demotion/promotion) is what keeps the TPC-DS-shaped join trees
healthy without per-query hand-tuning.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_WAREHOUSE_DIR: str | None = None


def _process_warehouse_dir() -> str:
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="lhbench_wh_")
    return _WAREHOUSE_DIR


def scratch_dir(prefix: str) -> str:
    """Memory-backed scratch dir when available (else the OS temp dir).
    Streaming checkpoints/state stores fsync on every microbatch commit —
    on tmpfs that is a memory write, on the host disk it is a latency
    lottery that showed up as 3-17s swings in the drained streaming
    queries. The cluster equivalent is fast local NVMe for checkpoints
    you don't need durable (test drains; production uses object-store
    checkpoints and accepts the latency)."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


_CHECKPOINT_ROOT: str | None = None


def _process_checkpoint_root() -> str:
    global _CHECKPOINT_ROOT
    if _CHECKPOINT_ROOT is None:
        _CHECKPOINT_ROOT = scratch_dir("lhbench_chk_")
    return _CHECKPOINT_ROOT


_MAX_DRIVER_MEM_MB = 48 * 1024


def _driver_mem_for(meminfo: str) -> str:
    """Default driver heap for a host described by ``/proc/meminfo``
    text: half of MemTotal, capped at 48g (local mode runs every
    executor thread inside the driver JVM, and the other half stays for
    Python workers, off-heap shuffle and the OS). The cap is also the
    answer when MemTotal is unknown."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return f"{min(int(line.split()[1]) // 2048, _MAX_DRIVER_MEM_MB)}m"
    return f"{_MAX_DRIVER_MEM_MB}m"


def _host_driver_mem() -> str:
    try:
        with open("/proc/meminfo") as f:
            return _driver_mem_for(f.read())
    except OSError:
        return _driver_mem_for("")


def get_spark(
    app_name: str = "lhbench_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    In local mode ``shuffle_partitions`` defaults to the core count: for the
    small-SF correctness data, 1 partition per core avoids task-launch
    overhead dominating. On a real cluster this should be sized to
    ~128 MB of shuffle data per partition; AQE's coalescing makes the
    initial number a ceiling rather than an exact choice.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # deterministic time semantics vs. the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read as long once-for-all (catalog.table converts
        # ns→µs). Set here, not per-read: no session-conf mutation mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE: runtime coalescing + skew-join splitting; the reference
        # relies on Catalyst for all join strategy choices (SURVEY §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # reference parity (TPCDSBenchmark.scala:84-87)
        .config("spark.sql.crossJoin.enabled", "true")
        .config("spark.sql.broadcastTimeout", "7200")
        # Guide §9 join/shuffle knobs at the values measured best on this
        # suite; see OPTIMIZATION_r11.md §6 for the per-family A/B table
        # and production sizing notes.
        .config("spark.sql.join.preferSortMergeJoin", "true")
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # Streaming state stores keep the last N committed versions of
        # every operator partition's map IN MEMORY (default N=100). The
        # drained availableNow pipelines re-run per bench iteration with
        # fresh checkpoints, so providers accumulate; retaining 2
        # versions bounds that memory without changing any result (state
        # recovery beyond one version is a durability concern only for
        # long-lived production checkpoints).
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # arrow for the few pandas-UDF paths (multimodal / embeddings)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
        # Kryo for the non-SQL serialization paths (task results,
        # broadcast builds, RDD/localCheckpoint blocks; SQL shuffles use
        # UnsafeRowSerializer regardless). Diagnosed from a thread dump:
        # AQE legitimately broadcasts a small-at-bench-SF checkpointed
        # frame of array columns, and the build collects it through ONE
        # coalesced task whose JavaSerializer ObjectOutputStream spent
        # 46s on boxed arrays — Kryo cut that query 49.3s -> 14.6s cold,
        # 4.5s -> 2.0s warm. The standard production setting.
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Diagnostic passthrough (e.g. -Xlog:gc*,safepoint to a file) —
        # empty by default; local-mode driver == the whole JVM.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        # Shuffle/spill files on tmpfs when available: local-mode shuffle
        # volume at test SFs is a few GB, and memory-backed scratch makes
        # the measurements immune to host disk-latency windows (the
        # cluster equivalent is fast local NVMe for yarn.local-dirs).
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
            ),
        )
        # default ROOT for streaming checkpoints (each query gets its own
        # subdir): memory-backed for the same reason as spark.local.dir —
        # per-microbatch commit fsyncs must not ride host-disk latency.
        .config("spark.sql.streaming.checkpointLocation", _process_checkpoint_root())
        # managed tables without an explicit LOCATION land here, not in
        # a spark-warehouse/ dir polluting the caller's cwd. One dir per
        # PROCESS (not per get_spark() call — getOrCreate ignores the
        # builder on reuse anyway, and a per-call mkdtemp leaked an empty
        # dir on every call in bench+test runs).
        .config("spark.sql.warehouse.dir", _process_warehouse_dir())
        .config("spark.ui.enabled", "false")
        # Even with the UI off, AppStatusListener + SQLAppStatusListener
        # track every job/stage/task/execution into in-memory stores with
        # default retention of 1000 executions / 1000 stages / 100k
        # tasks. A 245-query × 3-iteration suite runs thousands of
        # stages, so the stores grow and every task-completion event
        # pays lookup+eviction against them. Benchmarks replay history
        # from their own reports, not the status store — keep it small.
        # (Same tuning applies to long-lived many-query cluster apps.)
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.sql.ui.retainedExecutions", "50")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
