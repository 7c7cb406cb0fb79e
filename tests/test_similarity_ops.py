"""Operator-level similarity tests that need a non-SQL oracle (numpy):
the Lloyd/k-means refinement math (its float means have no bitwise SQL
twin, so the registry entry sim_kmeans_recall is rows-only and the exact
check lives here)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lhbench_spark.catalog import table
from lhbench_spark.operators import similarity as sim
from tests.conftest import SMOKE_SF


def _numpy_lloyd(X, cents, iters):
    """Reference Lloyd: assign to nearest centroid by L2 (ties -> lowest
    centroid index, matching _nearest_cells' (dist, idx) sort), then mean;
    empty cells keep their centroid."""
    C = np.array([c for _, c in cents], dtype=np.float64)
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)  # argmin takes the first (lowest index) on ties
        for j in range(len(C)):
            m = X[a == j]
            if len(m):
                C[j] = m.mean(axis=0)
    return C


def test_kmeans_refine_matches_numpy(spark):
    emb = table(spark, SMOKE_SF, "embeddings")
    base = sim.ivf_centroids(emb, centroid_stride=125)
    refined = sim.kmeans_refine(emb, base, iters=2)

    rows = emb.select("vec_id", sim.as_double("embedding").alias("e")).collect()
    X = np.array([r.e for r in rows], dtype=np.float64)
    C_ref = _numpy_lloyd(X, base, iters=2)

    C_got = np.array([c for _, c in refined], dtype=np.float64)
    assert C_got.shape == C_ref.shape
    assert np.allclose(C_got, C_ref, rtol=1e-9, atol=1e-9), (
        np.abs(C_got - C_ref).max()
    )
    # the codebook ids are preserved (downstream probe order depends on them)
    assert [cid for cid, _ in refined] == [cid for cid, _ in base]


def test_kmeans_refine_assignment_plan_stays_exchange_free(spark):
    """The refinement's assignment step must keep ivf_assign's
    scan->project shape — an Exchange here would mean the corpus ×
    centroids shuffle crept into every Lloyd iteration."""
    emb = table(spark, SMOKE_SF, "embeddings")
    cents = sim.ivf_centroids(emb, centroid_stride=125)
    assigned = sim.ivf_assign(
        emb.select(F.col("vec_id").alias("_kid"), sim.as_double("embedding").alias("_kv")),
        cents, 1, "_kid", "_kv",
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_kmeans_recall_query_is_sane(spark):
    from lhbench_spark.queries import all_queries

    row = all_queries()["sim_kmeans_recall"].spark_fn(spark, SMOKE_SF).collect()[0]
    assert row["n_queries"] > 0
    for c in ("base_recall", "refined_recall"):
        assert 0.0 <= row[c] <= 1.0, (c, row[c])


def test_pq_encode_matches_numpy(spark):
    """PQ codes: per-subspace argmin squared-L2 against the stride
    codebook, ties to the lowest codeword index — the numpy ground truth
    for the encode projection (end-to-end recall is oracle-checked by
    ann_pq_recall; this pins the code assignment itself)."""
    emb = table(spark, SMOKE_SF, "embeddings")
    cb = sim.pq_codebook(emb)
    got = {
        r.vec_id: list(r._codes)
        for r in sim.pq_encode(
            emb.select("vec_id", sim.as_double("embedding").alias("_v")),
            cb,
            id_out="vec_id",
            vec_out="_v",
        ).collect()
    }

    rows = emb.select("vec_id", sim.as_double("embedding").alias("e")).collect()
    CB = np.array(cb, dtype=np.float64)  # k_codes x dim
    subs, dim = sim.PQ_SUBS, CB.shape[1]
    sub = dim // subs
    for r in rows:
        x = np.array(r.e, dtype=np.float64)
        want = [
            int(
                (((x[m * sub:(m + 1) * sub] - CB[:, m * sub:(m + 1) * sub]) ** 2).sum(axis=1)).argmin()
            )
            + 1  # codes are 1-based (element_at indexing)
            for m in range(subs)
        ]
        assert got[r.vec_id] == want, r.vec_id


def test_pq_encode_plan_stays_exchange_free(spark):
    """The encode is scan -> project over the codebook literal; an
    Exchange here would mean the corpus shuffles to be quantized."""
    emb = table(spark, SMOKE_SF, "embeddings")
    cb = sim.pq_codebook(emb)
    plan = (
        sim.pq_encode(
            emb.select("vec_id", sim.as_double("embedding").alias("_v")),
            cb,
            id_out="vec_id",
            vec_out="_v",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_semantic_census_multichunk_matches_bruteforce(spark):
    """semantic_dedup_census's row-chunked matmul (chunk=1024) never
    exercises its multi-chunk path at test SFs (cells ~125 rows) — drive
    a 2300-vector single-cell corpus through it and check the census
    against a direct O(n²) numpy reference with the same
    lower-id-neighbor drop rule."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, dim = 2300, 8
    base = rng.normal(size=(60, dim))
    v = base[rng.integers(0, 60, size=n)] + rng.normal(scale=0.12, size=(n, dim))
    tau = 0.98
    rows = [(int(i), [float(x) for x in v[i]], 0) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, _ev array<double>, _cell long")
    got = sim.semantic_dedup_census(df, tau).collect()
    assert len(got) == 1
    u = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = u @ u.T
    dropped = [(sims[i, :i] >= tau).any() for i in range(n)]
    nd = int(np.sum(dropped))
    r = got[0]
    assert (r.cell, r.n_vecs, r.n_dropped, r.n_kept) == (0, n, nd, n - nd)
    assert 0 < nd < n  # both paths actually exercised


def test_ivf_assign_arrow_matches_hof_reference(spark):
    """The Arrow-batched ivf_assign must reproduce the inline-HOF
    reference assignment EXACTLY — same cells, same probe sets, same
    multiplicity — on the real corpus and on an adversarial set with
    exact distance ties (equidistant vectors, where only the (dist, cid)
    tie-break order separates the two implementations)."""
    emb = table(spark, SMOKE_SF, "embeddings")
    cents = sim.ivf_centroids(emb, centroid_stride=125)
    src = emb.select("vec_id", sim.as_double("embedding").alias("_ev"))
    for n_cells in (1, 2):
        got = sorted(
            (r.vec_id, r._cell)
            for r in sim.ivf_assign(src, cents, n_cells, "vec_id", "_ev").collect()
        )
        ref = sorted(
            (r.vec_id, r._cell)
            for r in sim.ivf_assign_hof(
                src, cents, n_cells, "vec_id", "_ev"
            ).collect()
        )
        assert got == ref

    # exact ties: vectors equidistant from several centroids must pick the
    # LOWEST cid under both implementations
    dim = len(cents[0][1])
    tie_rows = [
        (100, [0.0] * dim),
        (101, [0.5] * dim),
        (102, list(cents[0][1])),
    ]
    tdf = spark.createDataFrame(tie_rows, "vec_id long, _ev array<double>")
    tcents = [(7, [1.0] * dim), (3, [-1.0] * dim), (5, [1.0] * dim)]
    got = sorted(
        (r.vec_id, r._cell)
        for r in sim.ivf_assign(tdf, tcents, 2, "vec_id", "_ev").collect()
    )
    ref = sorted(
        (r.vec_id, r._cell)
        for r in sim.ivf_assign_hof(tdf, tcents, 2, "vec_id", "_ev").collect()
    )
    assert got == ref
    # vec 100 is exactly equidistant from cid 7 and cid 5 (same centroid)
    # and from cid 3 — the 2-probe set must be the two lowest cids {3, 5}
    assert [c for v, c in got if v == 100] == [3, 5]


@pytest.mark.parametrize(
    "bad, got",
    [(None, "is null"), ([1.0, 2.0, 3.0], "is of length 3")],
    ids=["null_vector", "wrong_dim_vector"],
)
def test_ivf_assign_rejects_vector_outside_contract(spark, bad, got):
    """A null vector, or one whose length differs from the centroids'
    dim, fails ivf_assign with a ValueError that names the operator, the
    offending row's id and the expected dim — not a bare np.stack crash
    (and never a silent assignment over the wrong number of coords)."""
    dim = 4
    rows = [(1, [0.0] * dim), (42, bad), (3, [1.0] * dim)]
    df = spark.createDataFrame(rows, "vec_id long, _ev array<double>")
    cents = [(0, [0.0] * dim), (1, [1.0] * dim)]
    with pytest.raises(Exception) as err:
        sim.ivf_assign(df.coalesce(1), cents, 1, "vec_id", "_ev").collect()
    msg = str(err.value)
    assert "ValueError: ivf_assign: _ev for vec_id=42 " + got in msg
    assert f"expected dim {dim}" in msg
