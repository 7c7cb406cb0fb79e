"""Bench regression tripwire: diff two bench recordings' common query set.

The r9 merge-family regression (+44% on merge_micro_counts) was visible
only by manually diffing BENCH_r09 vs BENCH_r08 — this tool makes that a
one-liner in the end-of-round checklist. It prints a ranked table of
per-query ratios and exits non-zero when any common query regressed past
the threshold (default 1.5x) — small absolute times are noise-exempt
below --min-sec.

Two recording shapes are understood:

- ``bench_report.json`` (both inputs carry ``query_stats``): compares
  each query's MIN wall seconds and its Spark job count, the two
  figures a loaded host cannot inflate. A query whose job count grew
  also fails the check.
- the driver's ``BENCH_rNN.json`` wrapper (payload under ``parsed``) or
  bench.py's raw JSON line: compares the per-query medians in
  ``queries``.

Usage:
    python tools/bench_diff.py BENCH_r09.json BENCH_r10.json
    python tools/bench_diff.py old/bench_report.json bench_report.json
    python tools/bench_diff.py BENCH_r09.json /tmp/bench_now.json --threshold 1.5
"""

from __future__ import annotations

import argparse
import json
import sys


def load(path: str) -> dict:
    d = json.load(open(path))
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    return d


def load_queries(path: str) -> dict[str, float]:
    q = load(path).get("queries")
    if not isinstance(q, dict) or not q:
        raise SystemExit(f"{path}: no per-query map found")
    return {k: float(v) for k, v in q.items()}


def load_query_stats(path: str) -> dict[str, tuple[float, int | None]] | None:
    """{query: (min_sec, jobs)} of a bench_report.json, else None."""
    qs = load(path).get("query_stats")
    if not isinstance(qs, dict) or not qs:
        return None
    return {k: (float(v["min_sec"]), v.get("jobs")) for k, v in qs.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--threshold", type=float, default=1.5,
        help="fail on any common query slower than OLD*threshold (default 1.5)",
    )
    ap.add_argument(
        "--min-sec", type=float, default=0.5,
        help="ignore regressions whose NEW time is below this (noise floor)",
    )
    ap.add_argument("--top", type=int, default=15, help="rows to print")
    args = ap.parse_args()

    old_stats, new_stats = load_query_stats(args.old), load_query_stats(args.new)
    if old_stats is not None and new_stats is not None:
        what = "min_sec"
        old, new = ({k: v[0] for k, v in s.items()} for s in (old_stats, new_stats))
    else:
        what = "median sec"
        old, new = load_queries(args.old), load_queries(args.new)
        old_stats = new_stats = {}
    common = sorted(set(old) & set(new))
    if not common:
        raise SystemExit("no common queries between the two recordings")
    rows = [(n, old[n], new[n], new[n] / old[n] if old[n] > 0 else float("inf"))
            for n in common]
    rows.sort(key=lambda r: -r[3])
    regressed = [
        r for r in rows if r[3] > args.threshold and r[2] >= args.min_sec
    ]
    jobs_changed = {
        n: (old_stats[n][1], new_stats[n][1])
        for n in common
        if n in old_stats and old_stats[n][1] != new_stats[n][1]
    }
    med = sorted(r[3] for r in rows)[len(rows) // 2]
    print(f"common queries: {len(common)}   median ratio new/old ({what}): {med:.3f}")
    print(f"{'query':<34}{'old_s':>8}{'new_s':>8}{'ratio':>8}")
    for n, o, v, r in rows[: args.top]:
        flag = "  <-- REGRESSED" if (r > args.threshold and v >= args.min_sec) else ""
        print(f"{n:<34}{o:>8.2f}{v:>8.2f}{r:>8.2f}{flag}")
    if old_stats:
        print(f"\njob counts changed on {len(jobs_changed)} of {len(common)} queries")
        for n, (o, v) in sorted(jobs_changed.items()):
            print(f"{n:<34}{o!s:>8}{v!s:>8}")
    grew = [
        n for n, (o, v) in jobs_changed.items()
        if o is not None and v is not None and v > o
    ]
    if regressed or grew:
        print(
            f"\n{len(regressed)} quer{'y' if len(regressed) == 1 else 'ies'} "
            f"regressed past {args.threshold}x (new >= {args.min_sec}s); "
            f"{len(grew)} launched more jobs"
        )
        return 1
    print(f"\nno regression past {args.threshold}x")
    return 0


if __name__ == "__main__":
    sys.exit(main())
