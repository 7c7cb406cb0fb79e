"""Benchmark command: run one named workload with one seed.

    python3 perfbench/run.py --workload tpcds_query --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):

- ``tpcds_query``: a fixed set of TPC-DS queries over the generated sf0.1
  TPC-DS tables, in seed-shuffled order;
- ``lake_upsert``: a seeded MERGE/DELETE/UPDATE/OPTIMIZE sequence with
  reads after every commit, on a copy-on-write and a merge-on-read copy;
- ``llm_pipeline``: a fixed set of dedup/ANN/similarity/corpus queries over
  seeded ``documents``/``embeddings``/``events`` tables.

The workload runs in a fresh worker process (``worker.py``) on one
``local[nproc]`` session. Each run times one pass: every operation of the
workload once, as a closed loop. The workload's size, not ``--seconds``,
sets how long the pass takes (``run_seconds`` in BENCHMARK.json is about
that length); ``--seconds`` is accepted so every workload has the same
command line. Every output is checked outside the timed window. ``--trace
1`` also records one span per layer call and reports the per-layer
metrics instead of the end-to-end ones; spans go to
``.perfbench/spans-<workload>-<seed>.jsonl``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. A worker that dies (for
example OOM-killed) is reported with every unfinished operation failed.
All scratch data lives under ``.perfbench/`` in the working directory and
is removed at exit, apart from the result and span files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 160
# Driver heap for every run, the same on both sides of any A/B; capped at a
# quarter of host RAM on small hosts.
HEAP_MB = 3072


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _heap_mb() -> int:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return min(HEAP_MB, mem_kb // 1024 // 4)


def _session_pids(sid: int) -> list[int]:
    """Live processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        if rest[0] != "Z" and int(rest[3]) == sid:
            out.append(int(name))
    return out


def _reap(proc: subprocess.Popen) -> None:
    """Kill and wait for the worker and everything it started (the JVM and
    the Python workers share its session)."""
    sid = proc.pid
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while _session_pids(sid) and time.time() < deadline:
        time.sleep(0.05)


def _tracing_gap(base: str, workload: str, per_layer: dict) -> None:
    """Tracing overhead as the gap between this traced run's ops_per_min
    and the median untraced ops_per_min of the same workload recorded in
    this working directory (0 when none is recorded yet)."""
    untraced = []
    for name in os.listdir(base):
        if name.startswith(f"result-{workload}-") and name.endswith("-t0.json"):
            with open(os.path.join(base, name)) as f:
                r = json.load(f)
            if r["failed"] == 0:
                untraced.append(r["e2e"]["ops_per_min"])
    traced = per_layer["trace.ops_per_min"]
    if untraced:
        ref = statistics.median(untraced)
        per_layer["trace.ops_gap_pct"] = 100.0 * (ref - traced) / ref
        print(f"tracing overhead: traced ops_per_min {traced:.2f} vs untraced median "
              f"{ref:.2f} over {len(untraced)} run(s): {per_layer['trace.ops_gap_pct']:.1f}%")
    else:
        per_layer["trace.ops_gap_pct"] = 0.0
        print("tracing overhead: no untraced run of this workload recorded here yet")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "lhbench_spark")):
        print("perfbench: lhbench_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        print(f"perfbench: unknown workload {a.workload!r}; one of {names}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    base = os.path.join(os.getcwd(), ".perfbench")
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(base, f"work-{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result_path = os.path.join(base, f"result-{tag}.json")
    progress_path = os.path.join(work, "progress.jsonl")
    log_path = os.path.join(work, "worker.log")
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{_heap_mb()}m",
        SPARK_GRAFT_DRIVER_JAVA_OPTS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
        "--work", work, "--result", result_path, "--progress", progress_path,
        "--spans", os.path.join(base, f"spans-{a.workload}-{a.seed}.jsonl"),
    ]
    if os.path.exists(result_path):
        os.remove(result_path)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            # a terminated benchmark still stops and waits for its worker tree
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                _reap(proc)
        with open(log_path) as f:
            log_text = f.read()
        planned = 1
        if os.path.exists(progress_path):
            with open(progress_path) as f:
                planned = json.loads(f.readline() or "{}").get("planned", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in log_text.splitlines(keepends=True):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    if code != 0 or not os.path.exists(result_path):
        # crashed or killed: no operation's output was checked, so every
        # planned operation counts as failed, the unattempted ones included
        print(f"perfbench: worker exited with {code}; log tail:\n{log_text[-3000:]}",
              file=sys.stderr)
        print(json.dumps({
            "correct": False, "attempted": planned, "failed": planned,
            "metrics": {m["name"]: {"value": 0.0, "unit": m["unit"]} for m in wanted},
        }))
        return 0
    with open(result_path) as f:
        res = json.load(f)
    if a.trace:
        _tracing_gap(base, a.workload, res["per_layer"])
    src = res["per_layer"] if a.trace else res["e2e"]
    metrics = {m["name"]: {"value": float(src.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(f"host: {json.dumps(res['host'])}")
    notes = res["notes"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{res['attempted']} ops, "
          f"failed_ratio {notes['failed_ratio']:.4f}")
    tail = notes["query_tail"]
    for name, m in metrics.items():
        extra = f"  (n={tail['n']})" if name == "query_p50_ms" else ""
        print(f"  {name:<28} {m['value']:>14.4f} {m['unit']}{extra}")
    print(f"  read tail: {tail['value']:.4f} ms at p{tail['percentile']} of n={tail['n']} "
          f"(the highest percentile with up to 10 reads beyond it)")
    for err in res["errors"]:
        print(f"  error: {err[:300]}")
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
