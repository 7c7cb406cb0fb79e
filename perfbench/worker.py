"""Benchmark worker: one workload, one seed, in a fresh process.

Started by ``run.py``; not meant to be run by hand. Sets up one
``local[nproc]`` session, generates every input from the seed, runs the
workload's operations in a closed loop (the next operation starts only
after the previous one returns), checks every output outside the timed
window and writes a result file. The number of planned operations is
written first, so a run killed mid-way (for example by the OOM killer)
can still be reported with every one of them failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

from py4j.protocol import Py4JError

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from layers import OpRecord, ProcSampler, Tracer, group_metrics  # noqa: E402

# From the reference benchmark's own TPC-DS list (the 18 texts it carries):
# star joins over store and catalog sales and one window query (q98), plus
# q64, the deepest join tree, for the Catalyst tail.
TPCDS_SET = (
    "tpcds_q03", "tpcds_q07", "tpcds_q26", "tpcds_q52",
    "tpcds_q68", "tpcds_q96", "tpcds_q98", "tpcds_q64",
)
# One query per operator kernel family: interpreted HOFs (PQ encode and
# ADC), Arrow/mapInPandas (IVF assign), signature hashing (simhash),
# brute-force similarity, exact dedup, tokenizers, redaction.
LLM_SET = (
    "ann_pq_recall", "ann_ivf_topk", "dedup_simhash", "sim_bruteforce_topk",
    "dedup_exact", "corpus_bpe_tokens", "corpus_pii_redact",
)
# lake_upsert shape: keyed base rows, MERGE rounds, fresh keys per MERGE
UPSERT_ROWS = 100_000
UPSERT_FILES = 8
UPSERT_ROUNDS = 2
UPSERT_INSERTS = 2_000
READS_PER_COMMIT = 1
# pause between set-up and the timed window (see main)
SETTLE_S = 0.5
# layers a traced op's wall time is split into (the op root is "harness")
SELF_LAYERS = ("harness", "queries", "catalyst", "exec", "tables")


def _phases(qe) -> dict[str, float]:
    """Catalyst QueryPlanningTracker phase durations (ms)."""
    out: dict[str, float] = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out


@dataclass
class Op:
    """One operation of a pass: ``fn(rec)`` runs it and returns the read's
    DataFrame and QueryExecution (``(None, None)`` for a commit)."""

    name: str
    kind: str  # "read" | "commit"
    fn: Callable
    mode: str = ""
    qdef: object = None


class Workload:
    """Setup, the operations of one pass, and the output checks."""

    def __init__(self, spark, tr: Tracer, work: str, seed: int):
        self.spark, self.tr, self.work, self.seed = spark, tr, work, seed
        self.setup_layers: dict[str, float] = {}

    def _timed(self, key: str, fn, *a, **kw):
        t0 = time.perf_counter()
        out = fn(*a, **kw)
        self.setup_layers[key] = time.perf_counter() - t0
        return out

    def read(self, df_fn, rec: OpRecord, span: str = "queries.build"):
        """Build (``df_fn``), plan and collect one read; keeps the rows."""
        tr = self.tr
        with tr.span(span):
            df = df_fn()
        with tr.span("catalyst.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with tr.span("exec.collect"):
            rows = df.collect()
        rec.rows = [tuple(r) for r in rows]
        return df, qe


class QueryWorkload(Workload):
    names: tuple[str, ...] = ()
    sources: tuple[str, ...] = ()
    tpcds = False

    def setup(self) -> None:
        from lhbench_spark.queries.registry import all_queries

        self.sf = self._timed(
            "inputs.generate_s", inputs.write_sf_dir, f"{self.work}/sf", self.seed, self.sources
        )
        if self.tpcds:
            from lhbench_spark import tpcds_data

            # materialize the generated tables and register their views, the
            # per-session step every tpcds query would otherwise run first
            self._timed("tpcds_data.materialize_s", tpcds_data.register_views, self.spark, self.sf)
        reg = all_queries()
        self.qdefs = [reg[n] for n in self.names]
        missing = [q.name for q in self.qdefs if not q.oracle]
        if missing:
            raise ValueError(f"measured queries need a DuckDB oracle: {missing}")
        # Warm pass: every measured query once, untimed, in a fixed order. A
        # query's first run in a fresh JVM is slower than its next (JIT, code
        # generation, Python worker start) by an amount that depends on what
        # ran before it; timed first runs made the medians follow the seed
        # shuffle's order rather than the program.
        self._timed("queries.warmup_s", self._warm_pass)
        random.Random(self.seed).shuffle(self.qdefs)

    def _warm_pass(self) -> None:
        for qd in self.qdefs:
            qd.spark_fn(self.spark, self.sf).collect()

    def ops(self) -> list[Op]:
        out = []
        for qd in self.qdefs:
            def fn(rec, qd=qd):
                return self.read(lambda: qd.spark_fn(self.spark, self.sf), rec)
            out.append(Op(qd.name, "read", fn, qdef=qd))
        return out

    def check(self, records: list[OpRecord]) -> None:
        from oracle import Oracle

        orc = Oracle(self.sf, tpcds=self.tpcds)
        try:
            for rec in records:
                if rec.ok:
                    err = orc.check(rec.qdef.oracle, rec.columns, rec.rows)
                    if err:
                        rec.ok, rec.error = False, f"wrong output: {err}"
        finally:
            orc.close()

    def query_reads(self, ok: list[OpRecord]) -> list[float]:
        return [r.wall_ms for r in ok if r.kind == "read"]


class TpcdsQuery(QueryWorkload):
    names = TPCDS_SET
    sources = ("orders",)
    tpcds = True


class LlmPipeline(QueryWorkload):
    names = LLM_SET
    sources = ("documents", "embeddings", "events")


class LakeUpsert(Workload):
    """The same seeded commit sequence on a copy-on-write and a
    merge-on-read copy of one keyed table, a digest read after every
    commit, OPTIMIZE and a final read."""

    COLS = ("key", "value", "skey", "bucket")

    def setup(self) -> None:
        from lhbench_spark.tables import ManagedTable

        self.plan = self._timed(
            "inputs.generate_s", inputs.write_upsert_inputs, f"{self.work}/in",
            self.seed, UPSERT_ROWS, UPSERT_ROUNDS, UPSERT_INSERTS,
        )
        base = self.spark.read.parquet(self.plan.base_path)
        sc = self.spark.sparkContext
        self.tables = {}
        for mode in ("cow", "mor"):
            sc.setJobGroup(f"setup.create.{mode}", "base load")
            self.tables[mode] = self._timed(
                f"tables.create.{mode}", ManagedTable.create, self.spark,
                f"{self.work}/t_{mode}", base, cluster_by=("key",),
                num_files=UPSERT_FILES, table_mode=mode, primary_keys=("key",),
            )
            self.setup_layers[f"tables.create.{mode}.jobs"] = len(
                sc.statusTracker().getJobIdsForGroup(f"setup.create.{mode}")
            )
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.batches = {
            s[1]: self.spark.read.parquet(s[1]) for s in self.plan.steps if s[0] == "merge"
        }
        # verify the load: both copies must hold the same rows before the
        # first commit (this also keeps the first timed read from paying
        # the read path's one-off start-up)
        self.load_digests = {}
        for mode, t in self.tables.items():
            rec = OpRecord(-1, "load", "read", mode)
            self._digest_read(t, rec)
            self.load_digests[mode] = rec.rows

    def _digest_read(self, t, rec):
        from pyspark.sql import functions as F

        def build():
            return t.read().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*self.COLS).cast("decimal(38,0)")).alias("h"),
            )
        return self.read(build, rec, span=f"tables.read.{rec.mode}")

    def ops(self) -> list[Op]:
        out = []
        for i, step in enumerate(self.plan.steps):
            for mode, t in self.tables.items():
                kind = step[0]

                def commit(rec, t=t, step=step, mode=mode):
                    with self.tr.span(f"tables.{step[0]}.{mode}"):
                        if step[0] == "merge":
                            m = t.merge(self.batches[step[1]], on=["key"], validate_unique=False)
                        elif step[0] == "delete":
                            m = t.delete(step[1])
                        elif step[0] == "update":
                            m = t.update(step[1], step[2])
                        else:
                            m = t.optimize()
                    rec.stats["commit"] = m
                    return None, None

                out.append(Op(f"{kind}-{i}", "commit", commit, mode=mode))
                for k in range(READS_PER_COMMIT):
                    out.append(Op(
                        f"read-{i}.{k}", "read", lambda rec, t=t: self._digest_read(t, rec),
                        mode=mode,
                    ))
        return out

    def query_reads(self, ok: list[OpRecord]) -> list[float]:
        """Reads of the copy-on-write copy; the merge-on-read copy's reads
        are ``mor_read_p50_ms``. Mixed, the two latency clusters would put
        the median on the boundary between them."""
        return [r.wall_ms for r in ok if r.kind == "read" and r.mode == "cow"]

    # -- state facts read between operations, outside the timed window --
    def table_state(self, mode: str) -> dict:
        t = self.tables[mode]
        m = t.current
        kinds = {"data": 0, "delta": 0, "tombstone": 0}
        for f in m.files:
            kinds[f.kind] = kinds.get(f.kind, 0) + 1
        root_bytes = 0
        for dirpath, _, files in os.walk(t.root):
            if "_manifests" in dirpath:
                continue
            root_bytes += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")
            )
        return {
            "version": m.version, "paths": {f.path for f in m.files},
            "bytes": {f.path: f.bytes for f in m.files}, "kinds": kinds,
            "manifest_bytes": m.num_bytes, "root_bytes": root_bytes,
        }

    def check(self, records: list[OpRecord]) -> None:
        import duckdb

        if self.load_digests["cow"] != self.load_digests["mor"]:
            for r in records:
                r.ok, r.error = False, "wrong output: cow and mor copies differ after load"
        # CoW and MoR must hold identical rows after every commit
        reads: dict[str, dict[str, OpRecord]] = {}
        for rec in records:
            if rec.kind == "read":
                reads.setdefault(rec.name, {})[rec.mode] = rec
        for pair in reads.values():
            if len(pair) == 2 and all(r.ok for r in pair.values()):
                if pair["cow"].rows != pair["mor"].rows:
                    for r in pair.values():
                        r.ok, r.error = False, "wrong output: cow and mor copies differ"
        # final state == an independent DuckDB replay of the same inputs
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.plan.base_path}')")
        for step in self.plan.steps:
            if step[0] == "merge":
                con.execute(
                    f"DELETE FROM t WHERE key IN (SELECT key FROM read_parquet('{step[1]}'))"
                )
                con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{step[1]}')")
            elif step[0] == "delete":
                con.execute(f"DELETE FROM t WHERE {step[1]}")
            elif step[0] == "update":
                sets = ", ".join(f"{c} = {e}" for c, e in step[1].items())
                con.execute(f"UPDATE t SET {sets} WHERE {step[2]}")
        last = f"read-{len(self.plan.steps) - 1}."
        final = [r for r in records if r.name.startswith(last)]
        for mode, t in self.tables.items():
            files = t.current.files
            err = None
            if any(f.kind != "data" for f in files):
                err = "final state still holds delta or tombstone files"
            else:
                paths = [os.path.join(t.root, f.path) for f in files]
                src = f"read_parquet({paths!r})"
                cols = ", ".join(self.COLS)
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL "
                    f"SELECT {cols} FROM {src})), (SELECT count(*) FROM (SELECT {cols} "
                    f"FROM {src} EXCEPT ALL SELECT {cols} FROM t))"
                ).fetchone()
                if diff != (0, 0):
                    err = f"final state differs from the DuckDB replay: {diff}"
            if err:
                for r in final:
                    if r.mode == mode:
                        r.ok, r.error = False, f"wrong output: {err}"
        con.close()


WORKLOADS = {"tpcds_query": TpcdsQuery, "lake_upsert": LakeUpsert, "llm_pipeline": LlmPipeline}


def p50(values: list[float]) -> float:
    """Harrell-Davis median: every order statistic weighted by the
    Beta((n+1)/2, (n+1)/2) mass of its rank interval. With a few dozen
    latencies in clusters, the sample median jumps between the clusters'
    edges from run to run; this estimator moves smoothly instead."""
    s = sorted(values)
    n = len(s)
    a = (n + 1) / 2
    log_beta = 2 * math.lgamma(a) - math.lgamma(2 * a)
    steps = 64  # midpoint rule per rank interval

    def pdf(x: float) -> float:
        return math.exp((a - 1) * (math.log(x) + math.log(1 - x)) - log_beta)

    total = 0.0
    for i, v in enumerate(s):
        h = 1.0 / (n * steps)
        total += v * h * sum(pdf(i / n + (k + 0.5) * h) for k in range(steps))
    return total


def pctl_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least 10
    samples beyond it; with fewer than 21 samples, the one with half the
    remaining samples beyond it (the maximum for n <= 2)."""
    s = sorted(values)
    n = len(s)
    beyond = min(10, (n - 1) // 2)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def host_facts(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    jvm = spark.sparkContext._jvm.System
    return {
        "host_ram_mb": mem_kb // 1024,
        "nproc": len(os.sched_getaffinity(0)),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": str(jvm.getProperty("java.version")),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--progress", required=True)
    ap.add_argument("--spans", required=True)
    a = ap.parse_args()

    # /proc sampling is a per-layer measurement: untraced runs go without it
    sampler = ProcSampler(os.getpid()) if a.trace else None
    if sampler:
        sampler.start()
    t_setup = time.perf_counter()

    from lhbench_spark import session

    # keep every scratch write of the session under the run's work dir
    session._CHECKPOINT_ROOT = os.path.join(a.work, "checkpoints")
    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tr = Tracer(spark.sparkContext, enabled=bool(a.trace))
    wl = WORKLOADS[a.workload](spark, tr, a.work, a.seed)
    wl.setup()
    setup_s = time.perf_counter() - t_setup
    facts = host_facts(spark)
    # Outside both set-up and the window: collect the garbage set-up left
    # and give the JIT's background compilations time to finish, so the
    # window does not share the cores with them.
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)

    # one pass: every operation of the workload once; the workload's size,
    # not --seconds, sets the length of the timed window
    sc = spark.sparkContext
    ops = wl.ops()
    with open(a.progress, "w") as prog:
        prog.write(json.dumps({"planned": len(ops)}) + "\n")
    records: list[OpRecord] = []
    layer: dict[str, list[float]] = {}
    lake_state: dict = {}
    if sampler:
        sampler.sample()
        cpu0 = sampler.cpu_by_role()
    elapsed_ms = 0.0
    for op_id, op in enumerate(ops):
        before = wl.table_state(op.mode) if a.trace and op.kind == "commit" else None
        if before is not None and op.name.startswith("optimize"):
            lake_state[f"pre_optimize.{op.mode}"] = before
        rec = OpRecord(op_id, op.name, op.kind, op.mode, qdef=op.qdef)
        t0 = time.perf_counter_ns()
        w0 = time.time()
        try:
            with tr.op(op_id, op.name):
                df, qe = op.fn(rec)
            rec.ok = True
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            df = qe = None
            rec.error = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        rec.wall_ms = (time.perf_counter_ns() - t0) / 1e6
        w1 = time.time()
        elapsed_ms += rec.wall_ms
        if df is not None:
            rec.columns = list(df.columns)
        if a.trace:
            collect_observe(tr, sc, rec, qe, (w0, w1), layer)
            if before is not None and rec.ok:
                commit_observe(wl, rec, before, layer)
        records.append(rec)
    if sampler:
        sampler.sample()
        cpu1 = sampler.cpu_by_role()

    t_check = time.perf_counter()
    wl.check(records)
    print(f"[perfbench] setup {setup_s:.1f}s, window {elapsed_ms / 1000:.1f}s, "
          f"checks {time.perf_counter() - t_check:.1f}s", file=sys.stderr)
    for rec in records:
        if rec.error:
            print(f"[perfbench] {rec.name} ({rec.mode or '-'}) failed: {rec.error[:500]}",
                  file=sys.stderr)

    ok = [r for r in records if r.ok]
    reads = wl.query_reads(ok)
    tail, tail_pct, tail_n = pctl_tail(reads) if reads else (0.0, 0.0, 0)
    e2e = {
        "setup_s": setup_s,
        "ops_per_min": len(ok) / (elapsed_ms / 60000.0) if elapsed_ms else 0.0,
        "query_p50_ms": p50(reads) if reads else 0.0,
    }
    notes = {
        "query_tail": {"value": tail, "percentile": round(tail_pct, 1), "n": tail_n},
        "failed_ratio": (len(records) - len(ok)) / len(records) if records else 1.0,
    }
    per_layer = {}
    if a.trace:
        per_layer = layer_metrics(
            wl, tr, records, layer, lake_state, session_s,
            {k: cpu1[k] - cpu0.get(k, 0.0) for k in cpu1}, elapsed_ms,
        )
        sampler.stop()
        per_layer["peak_rss_mb"] = sampler.peak_rss / 2**20
        per_layer["query_tail_ms"] = tail
        tr.dump(a.spans)
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "attempted": len(records), "failed": len(records) - len(ok),
        "planned": len(ops), "e2e": e2e, "per_layer": per_layer, "notes": notes,
        "host": facts, "errors": [f"{r.name}: {r.error}" for r in records if r.error][:20],
        "ops": [[r.name, r.mode, r.kind, round(r.wall_ms, 3), r.ok] for r in records],
    }
    with open(a.result, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


def collect_observe(tr, sc, rec: OpRecord, qe, window, layer) -> None:
    """Per-op layer facts of a traced run, read right after the op."""
    spans = tr.op_spans(rec.op)
    epoch0 = window[0] - spans[0].start_ns / 1e9 if spans else 0.0
    agg = {"jobs": 0, "stages": 0, "tasks": 0}
    for sp in spans:
        if not sp.group:
            continue
        w = None
        if sp.name == "exec.collect":
            w = (epoch0 + sp.start_ns / 1e9, epoch0 + sp.end_ns / 1e9)
        g = group_metrics(sc, sp.group, window=w)
        for k, v in g.items():
            if k not in ("incomplete", "driver_gap_ms"):
                agg[k] = agg.get(k, 0) + v
        if g["incomplete"]:
            rec.stats["incomplete"] = g["incomplete"]
            print(f"[perfbench] {rec.name} ({rec.mode or '-'}) layer metrics incomplete: "
                  f"{g['incomplete']}", file=sys.stderr)
        if sp.name == "queries.build":
            layer.setdefault("queries.build_jobs", []).append(g["jobs"])
        if sp.name.startswith("tables."):
            layer.setdefault(f"{sp.name}.jobs", []).append(g["jobs"])
        if "driver_gap_ms" in g:
            layer.setdefault("exec.driver_gap_ms", []).append(g["driver_gap_ms"])
    for sp in spans:
        key = {"queries.build": "queries.build_ms", "catalyst.plan": "catalyst.plan_ms",
               "exec.collect": "exec.collect_ms"}.get(sp.name)
        if key:
            layer.setdefault(key, []).append(sp.ms)
        elif sp.name.startswith("tables."):
            layer.setdefault(f"{sp.name}.ms", []).append(sp.ms)
    if qe is not None:
        try:
            ph = _phases(qe)
        except Py4JError:  # a plan without a tracker
            ph = {}
        for p in ("analysis", "optimization", "planning"):
            layer.setdefault(f"catalyst.{p}_ms", []).append(ph.get(p, 0.0))
    rec.stats["exec"] = agg
    own = tr.self_ms(rec.op)
    for name in SELF_LAYERS:
        layer.setdefault(f"self.{name}_ms", []).append(own.get(name, 0.0))
    # time of the op outside its root span (the tracer's own entry/exit)
    layer.setdefault("trace.unaccounted_ms", []).append(rec.wall_ms - sum(own.values()))
    if rec.rows is not None:
        layer.setdefault("fetch.rows", []).append(len(rec.rows))


def commit_observe(wl, rec: OpRecord, before: dict, layer) -> None:
    after = wl.table_state(rec.mode)
    added = after["paths"] - before["paths"]
    removed = before["paths"] - after["paths"]
    written = sum(after["bytes"][p] for p in added)
    live = max(1, before["kinds"].get("data", 0))
    layer.setdefault("tables.files_added", []).append(len(added))
    layer.setdefault("tables.files_rewritten", []).append(len(removed))
    layer.setdefault("tables.bytes_written", []).append(written)
    if not rec.name.startswith("optimize"):
        layer.setdefault("tables.prune_ratio", []).append(
            rec.stats.get("commit", {}).get("files_rewritten", len(removed)) / live
        )
    if rec.name.startswith("merge"):
        src = wl.plan.batch_bytes[wl.plan.steps[int(rec.name.split("-")[1])][1]]
        layer.setdefault("tables.write_amp_num", []).append(written)
        layer.setdefault("tables.write_amp_den", []).append(src)


def _mean(xs) -> float:
    return float(sum(xs)) / len(xs) if xs else 0.0


def layer_metrics(wl, tr, records, layer, lake_state, session_s, cpu, elapsed_ms) -> dict:
    m: dict[str, float] = {"session.start_s": session_s}
    m["inputs.generate_s"] = wl.setup_layers.get("inputs.generate_s", 0.0)
    m["tpcds_data.materialize_s"] = wl.setup_layers.get("tpcds_data.materialize_s", 0.0)
    m["queries.warmup_s"] = wl.setup_layers.get("queries.warmup_s", 0.0)
    for op in ("create", "merge", "delete", "update", "optimize", "read"):
        for mode in ("cow", "mor"):
            key = f"tables.{op}.{mode}"
            if op == "create":
                m[f"{key}.ms"] = 1000.0 * wl.setup_layers.get(key, 0.0)
                m[f"{key}.jobs"] = wl.setup_layers.get(f"{key}.jobs", 0.0)
            else:
                m[f"{key}.ms"] = _mean(layer.get(f"{key}.ms", []))
                m[f"{key}.jobs"] = _mean(layer.get(f"{key}.jobs", []))
    for key in ("queries.build_ms", "queries.build_jobs", "catalyst.plan_ms",
                "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
                "exec.collect_ms", "exec.driver_gap_ms", "fetch.rows",
                "tables.files_rewritten", "tables.files_added", "tables.prune_ratio",
                "tables.bytes_written"):
        m[key] = _mean(layer.get(key, []))
    num, den = layer.get("tables.write_amp_num", []), layer.get("tables.write_amp_den", [])
    m["tables.write_amp"] = sum(num) / sum(den) if den else 0.0
    ex = [r.stats["exec"] for r in records if "exec" in r.stats]
    for k in ("jobs", "stages", "tasks", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "input_bytes"):
        m[f"exec.{k}"] = _mean([e.get(k, 0) for e in ex])
    m["exec.task_run_ms"] = _mean([e.get("task_run_ms", 0) for e in ex])
    m["exec.task_cpu_ms"] = _mean([e.get("task_cpu_ns", 0) / 1e6 for e in ex])
    m["exec.cpu_ratio"] = (
        m["exec.task_cpu_ms"] / m["exec.task_run_ms"] if m["exec.task_run_ms"] else 0.0
    )
    m["exec.spill_bytes"] = _mean(
        [e.get("spill_mem_bytes", 0) + e.get("spill_disk_bytes", 0) for e in ex]
    )
    m["exec.incomplete_ops"] = float(sum(1 for r in records if r.stats.get("incomplete")))
    # merge-on-read file kinds and space use, just before compaction
    mor = lake_state.get("pre_optimize.mor")
    m["tables.live_files"] = float(mor["kinds"]["data"]) if mor else 0.0
    m["tables.delta_files"] = float(mor["kinds"]["delta"]) if mor else 0.0
    m["tables.tombstone_files"] = float(mor["kinds"]["tombstone"]) if mor else 0.0
    m["tables.manifest_versions"] = float(mor["version"] + 1) if mor else 0.0
    states = [v for k, v in lake_state.items() if k.startswith("pre_optimize.")]
    m["space_amp"] = (
        sum(s["root_bytes"] for s in states) / sum(s["manifest_bytes"] for s in states)
        if states else 0.0
    )
    ok = [r for r in records if r.ok]
    commits = [r.wall_ms for r in ok if r.kind == "commit"]
    m["commit_p50_ms"] = p50(commits) if commits else 0.0
    m["commit_tail_ms"] = pctl_tail(commits)[0] if commits else 0.0
    mor_reads = [r.wall_ms for r in ok if r.kind == "read" and r.mode == "mor"]
    m["mor_read_p50_ms"] = p50(mor_reads) if mor_reads else 0.0
    m["failed_ratio"] = (len(records) - len(ok)) / len(records) if records else 1.0
    m["proc.python_worker_cpu_s"] = cpu.get("python_worker", 0.0)
    m["proc.jvm_cpu_s"] = cpu.get("jvm", 0.0)
    m["proc.driver_cpu_s"] = cpu.get("driver", 0.0)
    for name in SELF_LAYERS:
        m[f"self.{name}_ms"] = _mean(layer.get(f"self.{name}_ms", []))
    m["trace.unaccounted_ms"] = _mean(layer.get("trace.unaccounted_ms", []))
    m["trace.ops_per_min"] = len(ok) / (elapsed_ms / 60000.0) if elapsed_ms else 0.0
    m["trace.overhead_pct"] = 100.0 * tr.bookkeeping_ns / 1e6 / elapsed_ms if elapsed_ms else 0.0
    m["trace.spans"] = float(len(tr.spans))
    return m


if __name__ == "__main__":
    try:
        code = main()
    except Exception:  # noqa: BLE001 — report, let run.py account the ops
        traceback.print_exc()
        code = 3
    sys.exit(code)
