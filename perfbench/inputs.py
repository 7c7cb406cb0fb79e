"""Seeded input generation for the benchmark workloads.

Everything a workload reads is written here, before the timed window
opens, from ``numpy.random.default_rng(seed)`` alone: the same seed gives
byte-identical parquet files. Nothing is sampled inside the program's own
lineage.

- ``write_sf_dir``: the four source tables the measured queries read
  (``orders`` sizes the generated TPC-DS tables; ``documents``,
  ``embeddings`` and ``events`` feed the LLM-pipeline queries), at the
  sf0.1 row counts (half the embeddings) and schemas of the engine's test
  data.
- ``UpsertPlan`` / ``write_upsert_inputs``: the keyed base table of the
  ``lake_upsert`` workload plus every MERGE batch, DELETE predicate and
  UPDATE assignment it applies, with a pure-Python model of the live key
  set so batches can target live keys.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the engine's source tables, but half its 2,000
# embeddings: the ann_pq_recall oracle's DuckDB time grows with them
ORDERS_ROWS = 150_000
DOCUMENT_ROWS = 5_000
EMBEDDING_ROWS = 1_000
EVENT_ROWS = 100_000
EMBEDDING_DIM = 64

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
_STATUSES = np.array(["P", "O", "F"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _orders(rng: np.random.Generator) -> pa.Table:
    n = ORDERS_ROWS
    start = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2404, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(_STATUSES, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n), 2)),
        "o_orderdate": pa.array(start + days.astype("timedelta64[us]")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, 5% of them a
    near-duplicate (an earlier document plus the word ``dup``) and a few
    exact duplicates, so every dedup family finds work."""
    n = DOCUMENT_ROWS
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit-norm float32 vectors with a weak per-label centroid."""
    n, dim = EMBEDDING_ROWS, EMBEDDING_DIM
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.07, (10, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) / np.sqrt(dim) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    n = EVENT_ROWS
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, month_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


SOURCES = {
    "orders": _orders,
    "documents": _documents,
    "embeddings": _embeddings,
    "events": _events,
}


def write_sf_dir(out: str, seed: int, tables: tuple[str, ...]) -> str:
    """Write the named source tables as ``<out>/<name>.parquet``; each table
    draws from its own seeded stream. Returns ``out``."""
    os.makedirs(out, exist_ok=True)
    for i, name in enumerate(SOURCES):
        if name in tables:
            table = SOURCES[name](np.random.default_rng([seed, 1, i]))
            pq.write_table(table, f"{out}/{name}.parquet")
    return out


# ---------------------------------------------------------------------------
# lake_upsert: keyed table + the full commit sequence


def keyed_rows(keys: np.ndarray, values: np.ndarray) -> pa.Table:
    """Rows in the ``merge_micro.gen_table`` shape: key, value, skey (key
    in hex), bucket (key mod 1000)."""
    keys = keys.astype(np.int64)
    return pa.table({
        "key": pa.array(keys),
        "value": pa.array(values.astype(np.float64)),
        "skey": pa.array([format(int(k), "X") for k in keys]),
        "bucket": pa.array(keys % 1000),
    })


@dataclass
class UpsertPlan:
    """The commit sequence applied to each table copy, in order. Each step
    is ``("merge", batch_path)``, ``("delete", condition)``,
    ``("update", {"value": expr}, condition)`` or ``("optimize",)``."""

    base_path: str
    steps: list[tuple] = field(default_factory=list)
    batch_bytes: dict[str, int] = field(default_factory=dict)


def write_upsert_inputs(
    out: str, seed: int, rows: int, merge_rounds: int, insert_rows: int
) -> UpsertPlan:
    """Base table plus ``merge_rounds`` MERGE batches, one DELETE and one
    UPDATE, then OPTIMIZE. MERGE batches alternate, starting with updates
    skewed to the most recent 2% of live keys (few files matched: CoW
    pruning used) and then uniform 1% updates of live keys (every file
    matched: pruning bypassed); each batch also inserts ``insert_rows``
    fresh keys."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = f"{out}/base.parquet"
    pq.write_table(keyed_rows(np.arange(rows), np.round(rng.uniform(0, 1e6, rows), 3)), base)
    plan = UpsertPlan(base_path=base)
    live = np.arange(rows, dtype=np.int64)
    next_key = rows
    for i in range(merge_rounds):
        n_upd = max(1, len(live) // 100)
        if i % 2:
            upd = rng.choice(live, n_upd, replace=False)
        else:
            recent = live[-max(n_upd, len(live) // 50):]
            upd = rng.choice(recent, n_upd, replace=False)
        ins = np.arange(next_key, next_key + insert_rows, dtype=np.int64)
        next_key += insert_rows
        keys = np.concatenate([upd, ins])
        vals = np.round(rng.uniform(-1e6, 0, len(keys)), 3)
        path = f"{out}/merge_{i}.parquet"
        pq.write_table(keyed_rows(keys, vals), path)
        plan.batch_bytes[path] = os.path.getsize(path)
        plan.steps.append(("merge", path))
        live = np.union1d(live, ins)
        if i == merge_rounds // 2 - 1:
            # DELETE mid-sequence, so later merges meet tombstoned keys
            b = int(rng.integers(0, 1000))
            plan.steps.append(("delete", f"bucket = {b}"))
            live = live[live % 1000 != b]
    b = int(rng.integers(0, 1000))
    delta = round(float(rng.uniform(1, 100)), 3)
    plan.steps.append(("update", {"value": f"value + {delta}"}, f"bucket = {b}"))
    plan.steps.append(("optimize",))
    return plan
