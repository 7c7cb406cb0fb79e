"""Paired A/B comparer for the benchmark.

    python3 perfbench/compare.py --base ../parent --head . --workload tpcds_query --pairs 10
    python3 perfbench/compare.py --base . --workload lake_upsert --pairs 10   # spread only

``--base`` and ``--head`` are checkouts (directories holding
``BENCHMARK.json`` and ``perfbench/``). Pair ``i`` runs both sides with
seed ``--seed0 + i``, one after the other, alternating which side goes
first. Each row shows both sides' median and quartiles, the median gap,
and how many pairs the head won. The verdict per metric:

- ``unresolved``: either side's spread (interquartile range over median)
  is wider than the metric's bound in BENCHMARK.json, and not every head
  run beats every base run (then ``better``);
- ``better`` / ``worse``: at least 10 pairs ran, the head won (lost) at
  least 9 in 10 of them and the medians differ by more than the base's
  interquartile range;
- ``same`` otherwise.

- ``failed``, for every metric of the workload: the head had more failed
  runs (crashed, or ``correct: false``) or more failed operations than
  the base, so no gain on its successful runs counts.

With ``--trace`` the per-layer metrics are compared (they have no bound,
so they are never ``unresolved``). Without ``--head`` only the base runs,
and the table shows each metric's spread against a third of its bound.
Runs that fail or report ``correct: false`` are listed and counted, and
their figures are left out of the rows.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


class Side:
    """One checkout's runs of one workload: the metrics of each correct run
    (``None`` for a failed one) and the failure counts."""

    def __init__(self, checkout: str):
        self.checkout = checkout
        self.runs: list[dict | None] = []
        self.failed_runs = 0
        self.failed_ops = 0

    def run(self, spec: dict, workload: str, seed: int, trace: int) -> None:
        cmd = spec["command"] + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
        ]
        p = subprocess.run(cmd, cwd=self.checkout, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            self.failed_runs += 1
            self.failed_ops += res["failed"] if res else 1
            why = f"correct=false ({res['failed']} failed)" if res else f"exit {p.returncode}"
            print(f"  {self.checkout} seed {seed}: {why}", file=sys.stderr)
            self.runs.append(None)
            return
        self.runs.append({k: v["value"] for k, v in res["metrics"].items()})


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        x = xs[0] if xs else float("nan")
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def verdict(metric: dict, base: list[float], head: list[float], pairs: list[tuple]) -> str:
    bound = metric.get("bound")
    sign = 1.0 if metric["better"] == "higher" else -1.0
    if bound is not None and max(spread(base), spread(head)) > bound:
        # too noisy to resolve, unless every head run beats every base run
        if min(sign * h for h in head) > max(sign * b for b in base):
            return "better"
        return "unresolved"
    wins = sum(1 for b, h in pairs if sign * (h - b) > 0)
    losses = sum(1 for b, h in pairs if sign * (h - b) < 0)
    q1, bmed, q3 = quartiles(base)
    gap = statistics.median(head) - bmed
    if len(pairs) >= 10 and abs(gap) > q3 - q1:
        if wins >= 0.9 * len(pairs):
            return "better"
        if losses >= 0.9 * len(pairs):
            return "worse"
    return "same"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open(f"{a.base}/BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    trace = int(a.trace)

    for w in a.workload:
        base, head = Side(a.base), Side(a.head)
        for i in range(a.pairs):
            seed = a.seed0 + i
            if a.head is None:
                base.run(spec, w, seed, trace)
                head.runs.append(None)
                continue
            for side in (base, head) if i % 2 == 0 else (head, base):
                side.run(spec, w, seed, trace)
        print(f"\n{w}: {a.pairs} {'pairs' if a.head else 'runs'}; failed runs/ops: "
              f"base {base.failed_runs}/{base.failed_ops}"
              + (f", head {head.failed_runs}/{head.failed_ops}" if a.head else ""))
        head_failed_more = a.head is not None and (
            head.failed_runs > base.failed_runs or head.failed_ops > base.failed_ops
        )
        for m in metrics:
            name = m["name"]
            b = [r[name] for r in base.runs if r]
            if not b:
                continue
            q1, med, q3 = quartiles(b)
            row = f"  {name:<28} base {med:12.4f} [{q1:.4f}, {q3:.4f}] {m['unit']}"
            if a.head is None:
                lim = m.get("bound")
                flag = "" if lim is None else (
                    f"  spread {spread(b):.3f} (bound/3 {lim / 3:.3f})"
                    f" {'ok' if spread(b) <= lim / 3 else 'WIDE'}"
                )
                print(row + flag)
                continue
            if head_failed_more:
                print(row + " | failed")
                continue
            pairs = [(x[name], y[name]) for x, y in zip(base.runs, head.runs) if x and y]
            h = [y for _, y in pairs]
            if not h:
                continue
            hq1, hmed, hq3 = quartiles(h)
            sign = 1.0 if m["better"] == "higher" else -1.0
            wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
            gap = 100.0 * (hmed - med) / med if med else float("nan")
            print(row + f" | head {hmed:12.4f} [{hq1:.4f}, {hq3:.4f}] | gap {gap:+.1f}% "
                  f"| head won {wins}/{len(pairs)} | {verdict(m, b, h, pairs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
