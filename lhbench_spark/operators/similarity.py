"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs:

- Brute-force cosine top-k — the correctness baseline. Broadcast the
  (small) query set against the corpus; per-partition local top-k via
  window rank. Cost O(|corpus|·|queries|·dim) but embarrassingly
  parallel, no shuffle of the corpus.
- Bucketed ANN — random-hyperplane LSH signatures as the blocking key
  (the IVF analog without a trained codebook): candidates only within
  matching buckets, then exact cosine re-rank. Sub-linear candidate sets
  at the cost of recall; bucket count scales with corpus size.

All vector math is built-in higher-order functions (zip_with/aggregate) on
array<double> — JVM-side, no Python UDF. For very wide vectors a Pandas
UDF over Arrow batches becomes competitive; benchmark before switching.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Default hyperplane count for the ANN tier (2^planes buckets). This is a
# DEFAULT, not a constant: size it to the corpus so per-bucket candidate
# counts stay bounded — planes ≈ log2(corpus_rows / target_bucket_rows).
# At 1e9 rows and ~10k-row buckets that's ~17 planes; callers pass it in.
# Values are ±1 (Rademacher) so the projection is a signed sum — cheap and
# dialect-portable.
LSH_PLANES = 8
# Banded near-dup blocking (OR-construction): NEARDUP_BANDS independent
# bucket tables of NEARDUP_BAND_PLANES hyperplanes each. A single wide
# bucket key has poor recall for cosine≈0.95 pairs (P[all signs agree]
# decays geometrically); 4 bands × 8 planes gives ~0.9 recall at 0.95
# while keeping buckets 2^8 per band.
NEARDUP_BANDS = 4
NEARDUP_BAND_PLANES = 8
_LCG_SEED = 1103515245


def _rademacher(plane: int, dim: int) -> list[int]:
    """Deterministic ±1 pattern per (plane, coordinate) via an LCG —
    reproducible across engines without RNG library differences."""
    out = []
    state = _LCG_SEED + 7919 * plane
    for _ in range(dim):
        state = (1103515245 * state + 12345) % (1 << 31)
        out.append(1 if (state >> 16) & 1 else -1)
    return out


def as_double(vec: str) -> Column:
    return F.expr(f"transform({vec}, x -> CAST(x AS DOUBLE))")


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity, ROUNDED to 9 decimals at the source.

    Spark's fold order (zip_with left-to-right) and DuckDB's
    list_cosine_similarity differ by ulps; a pair within a few ulps of a
    threshold (tau sits at the dense p99.9 of the pair distribution) or
    of a rank-k boundary would flip between engines. Rounding BEFORE any
    >= / ORDER BY comparison — mirrored by ROUND(..., 9) in every
    oracle — is the repo's round-before-compare convention (cf. the
    round-12 sort key in sample_weighted_reservoir)."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), 9)


def cosine_prenormed(a: str, b: str, na: str, nb: str) -> Column:
    """:func:`cosine` with the two vector norms read from precomputed
    columns instead of re-folded per pair. Per-PAIR evaluation of the
    interpreted HOF aggregates drops from three (dot + both norms) to
    one (guide §1/§4 — HOFs don't codegen, so each aggregate is a
    per-element closure invocation): each side's norm is computed once
    per ROW before the join. Bit-identical to :func:`cosine` — the norm
    column is the same left-to-right fold over the same doubles, and
    IEEE ops are deterministic, so round(dot/(na*nb), 9) reproduces the
    inline value exactly."""
    return F.round(dot(a, b) / (F.col(na) * F.col(nb)), 9)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rnk). The query side is
    broadcast; ranking is a window partitioned by query_id (bounded:
    |corpus| rows per query before the rank filter, pruned per-partition
    by Spark's WindowGroupLimit pushdown for rank < k filters)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", norm("_cv"))
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed("_qv", "_cv", "_qn", "_cn").alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            "rnk",
        )
    )


def lsh_bucket(vec_col: str, dim: int, planes: int = LSH_PLANES, plane_offset: int = 0) -> Column:
    """Random-hyperplane signature (int in [0, 2^planes)) used as the
    ANN blocking key. ``plane_offset`` selects an independent plane set
    (used by the banded near-dup blocking)."""
    bits = []
    for p in range(planes):
        signs = _rademacher(plane_offset + p, dim)
        arr = "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in signs) + ")"
        proj = (
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr("(" + " + ".join(bits) + ")")


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = LSH_PLANES,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank restricted to the query's
    LSH bucket(s). ``planes`` is the scale knob — per-query candidate
    count ≈ corpus / 2^planes, so grow planes with the corpus
    (planes ≈ log2(corpus / target_bucket)); fewer planes → bigger
    buckets → higher recall and cost. ``probe_hamming`` adds multi-probe:
    also search buckets within that hamming distance of the query's
    (probe count = sum of C(planes, j) for j ≤ r). Hyperplane buckets
    only catch HIGH-cosine neighbors (collision prob per plane is
    1 − θ/π); when the true neighbors sit at modest cosine, prefer the
    IVF tier — ann_recall measures exactly this tradeoff."""
    probe_cols = [F.lit(0)]
    if probe_hamming >= 1:
        probe_cols += [F.lit(1 << i) for i in range(planes)]
    if probe_hamming >= 2:
        probe_cols += [
            F.lit((1 << i) | (1 << j))
            for i in range(planes)
            for j in range(i + 1, planes)
        ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(vec_col).alias("_qv"),
        F.explode(F.array(*probe_cols)).alias("_flip"),
        lsh_bucket(vec_col, dim, planes).alias("_qbucket"),
    ).select(
        "query_id",
        "_qv",
        F.col("_qbucket").bitwiseXOR(F.col("_flip")).alias("_bucket"),
    ).withColumn("_qn", norm("_qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("_cv"),
        lsh_bucket(vec_col, dim, planes).alias("_bucket"),
    ).withColumn("_cn", norm("_cv"))
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed("_qv", "_cv", "_qn", "_cn").alias("_cos"),
        )
    )
    if probe_hamming > 0:
        # A neighbor reachable through several probed buckets scores once;
        # single-probe needs no dedupe (and skips the extra shuffle).
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", F.round("_cos", 6).alias("cosine"), "rnk"
        )
    )


def lsh_bucket_duck(vec: str, dim: int, planes: int = LSH_PLANES, plane_offset: int = 0) -> str:
    """DuckDB rendering of :func:`lsh_bucket` — generated from the same
    Rademacher constants so both engines bucket identically."""
    bits = []
    for p in range(planes):
        signs = _rademacher(plane_offset + p, dim)
        arr = "[" + ", ".join(f"{s}.0" for s in signs) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_dot_product({vec}, {arr}) > 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def neardup_band_keys_duck(vec: str, dim: int) -> str:
    """DuckDB rendering of :func:`neardup_band_keys`."""
    keys = []
    for b in range(NEARDUP_BANDS):
        bucket = lsh_bucket_duck(
            vec, dim, NEARDUP_BAND_PLANES, plane_offset=b * NEARDUP_BAND_PLANES
        )
        keys.append(f"concat('{b}:', CAST({bucket} AS VARCHAR))")
    return "[" + ", ".join(keys) + "]"


def neardup_band_keys(vec_col: str, dim: int) -> Column:
    """array<string> of banded hyperplane bucket keys (OR-construction):
    one independent ``NEARDUP_BAND_PLANES``-plane bucket per band, band
    index baked into the key. The embedding twin of MinHash-LSH banding."""
    keys = []
    for b in range(NEARDUP_BANDS):
        bucket = lsh_bucket(
            vec_col, dim, NEARDUP_BAND_PLANES, plane_offset=b * NEARDUP_BAND_PLANES
        )
        keys.append(F.concat(F.lit(f"{b}:"), bucket.cast("string")))
    return F.array(*keys)


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via banded
    random-hyperplane LSH blocking — the embedding analog of MinHash-LSH
    dedup. Pairs form only inside a band bucket (candidates stay
    near-linear as the corpus grows, unlike fixed-cardinality label
    blocks), then exact cosine verifies. Oversized buckets (degenerate
    direction clusters) are dropped by the cap, mirrored in the oracle."""
    from lhbench_spark.operators import fan_out

    v = fan_out(df).select(
        F.col(id_col).alias("_id"),
        as_double(vec_col).alias("_v"),
    ).withColumn("_n", norm("_v"))
    banded = v.select(
        "_id", F.explode(neardup_band_keys("_v", dim)).alias("_bkey")
    )
    w = Window.partitionBy("_bkey")
    banded = banded.withColumn("_bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("_bsz") <= max_bucket
    )
    cand = (
        banded.select(F.col("_id").alias("vec_a"), "_bkey")
        .join(banded.select(F.col("_id").alias("vec_b"), "_bkey"), "_bkey")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    pairs = cand.join(
        v.select(
            F.col("_id").alias("vec_a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        ),
        "vec_a",
    ).join(
        v.select(
            F.col("_id").alias("vec_b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        ),
        "vec_b",
    )
    cos = cosine_prenormed("_va", "_vb", "_na", "_nb")
    return pairs.filter(cos >= threshold).select(
        "vec_a", "vec_b", F.round(cos, 6).alias("cosine")
    )


def ivf_write_partitioned(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The IVF INGEST step: assign every corpus vector its cell (inline
    argmin — no shuffle beyond the partitioned write itself) and store
    the corpus Hive-partitioned BY CELL. This materializes the claim the
    in-memory operator only models: after this write, a probe is a
    partition-pruned scan of ``probes/num_cells`` of the data."""
    from lhbench_spark import sinks
    from lhbench_spark.operators import fan_out

    c = fan_out(corpus).select(
        F.col(id_col), as_double(vec_col).alias("_cv")
    )
    assigned = ivf_assign(c, cents, 1, id_col, "_cv")
    # Shaped write: repartition on the cell key so each cell directory
    # holds a bounded file count (task-count × cells small files
    # otherwise; raise files_per_partition for skewed/huge cells).
    sinks.write_partitioned(
        assigned, out_dir, partition_by=("_cell",), files_per_partition=1
    )


def ivf_append_partitioned(
    batch: DataFrame,
    cents: list[tuple[int, list[float]]],
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental IVF index MAINTENANCE: assign only the arriving batch
    to the EXISTING codebook's cells (same inline argmin as the initial
    ingest — no codebook retrain, no corpus re-read) and append it into
    the cell-partitioned store. Cost is O(batch): the job's only input
    is the batch frame, and dynamic partition overwrite is not needed
    because parquet append only touches the batch's own cell
    directories. Probes over the store then see old and new vectors
    identically — the maintenance path that keeps a 100 TB ANN index
    serving while the corpus grows (re-clustering is a separate,
    deliberate operation: see kmeans_refine)."""
    from lhbench_spark import sinks
    from lhbench_spark.operators import fan_out

    b = fan_out(batch).select(F.col(id_col), as_double(vec_col).alias("_cv"))
    assigned = ivf_assign(b, cents, 1, id_col, "_cv")
    sinks.write_partitioned(
        assigned, out_dir, partition_by=("_cell",), mode="append",
        files_per_partition=1,
    )


def ivf_partitioned_topk(
    spark,
    out_dir: str,
    queries: DataFrame,
    k: int = 5,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF probe over the cell-partitioned corpus written by
    :func:`ivf_write_partitioned`: collect the (queries × probes) probe
    cells — metadata-sized, this IS the index lookup — and scan ONLY
    those key=value partition directories (static partition pruning;
    plan-asserted in tests/test_plans.py), then exact-rerank. Identical
    results to :func:`ivf_topk`; the difference is that the scan cost is
    probes/num_cells of the corpus instead of all of it."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    )
    query_probes = ivf_assign(q, cents, probes, "query_id", "_qv").withColumn(
        "_qn", norm("_qv")
    )
    probe_cells = [r["_cell"] for r in query_probes.select("_cell").distinct().collect()]
    stored = spark.read.parquet(out_dir).filter(F.col("_cell").isin(probe_cells))
    cand = stored.withColumnRenamed(id_col, "neighbor_id").withColumn(
        "_cn", norm("_cv")
    ).join(
        F.broadcast(query_probes), "_cell"
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine_prenormed("_qv", "_cv", "_qn", "_cn").alias("_cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("_cos", 6).alias("cosine"), "rnk")
    )


def l2_normalize(vec: str) -> Column:
    """Unit-normalize an array<double> (zero vectors pass through
    unchanged) — the precompute that turns cosine into a plain dot
    product for every downstream ANN comparison."""
    n = f"sqrt(aggregate(transform({vec}, x -> x * x), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    # Bind the norm ONCE per row via a 1-element outer transform: putting
    # {n} textually inside the per-element lambda would re-evaluate the
    # aggregate for every coordinate — O(dim^2) interpreted lambda evals
    # per vector (measured 25x slowdown at dim=64).
    return F.expr(
        f"element_at(transform(array({n}), nrm -> "
        f"CASE WHEN nrm = 0.0 THEN {vec} "
        f"ELSE transform({vec}, x -> x / nrm) END), 1)"
    )


def quantize_int8(vec: str) -> Column:
    """Symmetric int8 quantization: scale = 127 / max|x| (per vector),
    q_i = round(x_i * scale). 4x smaller than float32 / 8x smaller than
    the double intermediate — the difference between an in-memory and an
    on-disk ANN index at 1e9+ vectors. Zero vectors quantize to zeros."""
    mx = f"aggregate(transform({vec}, x -> abs(x)), CAST(0.0 AS DOUBLE), (acc, v) -> greatest(acc, v))"
    # Same bind-once trick as l2_normalize: evaluate the max-abs aggregate
    # one time per row, not once per quantized coordinate.
    return F.expr(
        f"element_at(transform(array({mx}), m -> "
        f"CASE WHEN m = 0.0 THEN transform({vec}, x -> CAST(0 AS INT)) "
        f"ELSE transform({vec}, x -> CAST(round(x * 127.0 / m) AS INT)) END), 1)"
    )


def _nearest_cells(n_cents: int, vec: str, n: int) -> str:
    """SQL expression: the ``n`` nearest centroid ids (ascending distance,
    ties by ascending cid) for an array<double> column ``vec``, reading
    the codebook from companion literal columns ``_cc`` (array of centroid
    vectors) and ``_ck`` (their ids). A pure per-row projection: no join,
    no window, no Exchange. The codebook rides as TWO Literal nodes
    (F.lit of nested arrays), not thousands of scalar literals — at 100
    cells × 64 dims the scalar-literal encoding cost ~2 s of analysis/
    codegen per planning, paid on every query (measured at sf0.1).
    Distance is the same sqrt-L2 the DuckDB oracle's list_distance
    computes; struct sort on (d, cid) reproduces ORDER BY distance, cid
    (ties are broken by the cid FIELD, so sort stability is irrelevant)."""
    dist = (
        f"sqrt(aggregate(zip_with({vec}, element_at(_cc, i), "
        f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, d) -> acc + d))"
    )
    ranked = (
        f"array_sort(transform(sequence(1, {n_cents}), "
        f"i -> named_struct('d', {dist}, 'cid', element_at(_ck, i))))"
    )
    return f"transform(slice({ranked}, 1, {n}), s -> s.cid)"


def ivf_centroids(
    corpus: DataFrame,
    centroid_stride: int = 125,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic stand-in for a trained k-means codebook: every
    ``centroid_stride``-th corpus vector by id, collected to the driver.
    The codebook is metadata-sized (cells × dim, e.g. 100 × 64 doubles at
    1e9 rows) — collecting it is the 'load the trained quantizer' step,
    not a data-sized collect; a production build swaps in trained
    centroids without changing any downstream plan."""
    rows = (
        corpus.filter(F.col(id_col) % centroid_stride == 0)
        .select(F.col(id_col).alias("cid"), as_double(vec_col).alias("ce"))
        .orderBy("cid")
        .collect()
    )
    if not rows:
        raise ValueError(
            f"no centroids: stride {centroid_stride} selected nothing from the "
            f"corpus (empty input or max {id_col} < stride)"
        )
    return [(r.cid, list(r.ce)) for r in rows]


def ivf_assign(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_cells: int,
    id_out: str,
    vec_out: str,
) -> DataFrame:
    """(id, vec, _cell) with one row per probed cell, via Arrow-batched
    per-partition argmin (MapInPandas — the sanctioned Python path, like
    the SemDeDup census): no join, no window, no Exchange, and the
    cells × dim multiply-adds run as numpy array ops instead of
    interpreted HOF closures (guide §4 — higher-order functions don't
    codegen, and the inline-argmin projection measured ~1.7 ms PER ROW
    at 16 cells × 64 dims, 3.45 s for a 2000-row corpus).

    Bit-identical to the previous inline form (kept as
    :func:`ivf_assign_hof` and pinned by an equivalence test): the
    accumulation loops over coordinates SEQUENTIALLY, so each distance
    is the same left-to-right IEEE fold ((0+d₀²)+d₁²)+… the zip_with/
    aggregate expression evaluated, numpy and the JVM both execute
    correctly-rounded binary64 ops, and ranking sorts by (distance,
    cid) exactly like the struct array_sort.

    Input contract: every vector is non-null and has the centroids'
    dim. A row outside it fails the task with a ValueError naming
    ivf_assign, the row's id and the expected dim (where the HOF
    reference would yield null distances)."""
    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([ce for _, ce in cents], dtype=np.float64)  # (k, dim)
    k, dim = cmat.shape
    n = min(n_cells, k)

    id_field = df.schema[id_out]

    def bad_vector(pdf) -> ValueError:
        # input contract: every vector non-null with the centroids' dim;
        # only searched for once the batch failed to stack to (rows, dim)
        for rid, vec in zip(pdf[id_out], pdf[vec_out]):
            if vec is None or len(vec) != dim:
                got = "null" if vec is None else f"of length {len(vec)}"
                return ValueError(
                    f"ivf_assign: {vec_out} for {id_out}={rid} is {got}; "
                    f"expected dim {dim}"
                )
        return ValueError(f"ivf_assign: {vec_out} batch does not stack to dim {dim}")

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            try:
                v = np.stack(pdf[vec_out].to_numpy()).astype(np.float64)
            except (TypeError, ValueError):
                raise bad_vector(pdf) from None
            if v.shape[1:] != (dim,):
                raise bad_vector(pdf)
            acc = np.zeros((len(v), k), dtype=np.float64)
            # sequential over coordinates — matches the fold order of the
            # HOF aggregate bit for bit (vectorized across rows × cells,
            # which commutes with per-(row, cell) IEEE accumulation)
            for i in range(dim):
                d = v[:, i, None] - cmat[None, :, i]
                acc += d * d
            dist = np.sqrt(acc)
            # per row: indices of the n smallest by (dist, cid) — lexsort's
            # last key is primary, mirroring array_sort on struct(d, cid)
            out_rows = []
            for r in range(len(v)):
                order = np.lexsort((cids, dist[r]))[:n]
                out_rows.append(cids[order])
            if n == 1:
                cell_col = [int(c[0]) for c in out_rows]
                yield pd.DataFrame(
                    {
                        id_out: pdf[id_out],
                        vec_out: pdf[vec_out],
                        "_cell": cell_col,
                    }
                )
            else:
                rep = pdf.loc[pdf.index.repeat([len(c) for c in out_rows])]
                yield pd.DataFrame(
                    {
                        id_out: rep[id_out].to_numpy(),
                        vec_out: rep[vec_out].to_numpy(),
                        "_cell": np.concatenate(out_rows),
                    }
                )

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            id_field,
            df.schema[vec_out],
            StructField("_cell", LongType(), True),
        ]
    )
    return df.select(id_out, vec_out).mapInPandas(assign, schema)


def ivf_assign_hof(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_cells: int,
    id_out: str,
    vec_out: str,
) -> DataFrame:
    """The previous pure-SQL inline-argmin assignment (codebook literal +
    transform + array_sort + slice projection, no Exchange). Retained as
    the reference implementation the Arrow path is equivalence-tested
    against (tests/test_similarity_ops.py) — at 100 TB on a JVM-only
    cluster profile this shape remains available."""
    # One F.expr per literal (a single py4j call + one parse): F.lit of a
    # nested Python list expands to per-element Column objects — ~1000
    # py4j round-trips that cost ~1 s of query CONSTRUCTION per call
    # (measured at 16 cells × 64 dims).
    cc = "array(" + ", ".join(
        "array(" + ", ".join(repr(x) for x in ce) + ")" for _, ce in cents
    ) + ")"
    ck = "array(" + ", ".join(f"{cid}L" for cid, _ in cents) + ")"
    lit = df.withColumn("_cc", F.expr(cc)).withColumn("_ck", F.expr(ck))
    cells = F.expr(_nearest_cells(len(cents), vec_out, n_cells))
    if n_cells == 1:
        return lit.select(
            id_out, vec_out, F.element_at(cells, 1).alias("_cell")
        )
    return lit.select(
        id_out, vec_out, F.explode(cells).alias("_cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    centroid_stride: int = 125,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into cells, probe the
    query's nearest cells, exact-rerank inside them.

    Scale shape: the codebook loads once (ivf_centroids — pass ``cents``
    to reuse an already-loaded codebook, as a real deployment would);
    cell assignment is a pure projection over the corpus (ivf_assign —
    no join, no window, no shuffle); at 100 TB the assignment is computed
    once at ingest and the corpus is stored PARTITIONED BY cell, so a
    probe reads only ``probes/num_cells`` of the data — this operator
    models the read path: candidates = cells nearest the query, never
    the full corpus."""
    from lhbench_spark.operators import fan_out

    if cents is None:
        cents = ivf_centroids(corpus, centroid_stride, id_col, vec_col)
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    )
    corpus_cells = ivf_assign(c, cents, 1, "neighbor_id", "_cv").withColumn(
        "_cn", norm("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    )
    query_probes = ivf_assign(q, cents, probes, "query_id", "_qv").withColumn(
        "_qn", norm("_qv")
    )

    cand = corpus_cells.join(F.broadcast(query_probes), "_cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            cosine_prenormed("_qv", "_cv", "_qn", "_cn").alias("_cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("_cos", 6).alias("cosine"), "rnk")
    )


def kmeans_refine(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of an IVF codebook: ``iters`` rounds of
    assign-to-nearest + per-cell mean, turning the deterministic stride
    sample (:func:`ivf_centroids`) into a trained quantizer without any
    new plan shape downstream.

    Scale shape per iteration: the assignment is the SAME inline argmin
    projection as :func:`ivf_assign` (scan -> project, no Exchange), and
    the centroid update is ONE hash aggregation whose map-side partial
    combine reduces shuffle volume to O(partitions x cells x dim) — the
    per-dimension sums are dim explicit columns, so nothing row-explodes.
    Only the cells x dim codebook (metadata-sized) is ever collected.
    Empty cells keep their previous centroid (the standard Lloyd
    convention), so the codebook never shrinks."""
    from lhbench_spark.operators import fan_out

    dim = len(cents[0][1])
    # Project + CPU-partition + materialize the (id, vector) frame ONCE:
    # every iteration's argmin assignment is compute-bound (cells × dim
    # multiply-adds per row), so a byte-planned scan of a small-on-disk
    # vector table would run each round on one core, and without the
    # lazy checkpoint each round would also re-read the parquet source
    # (fan_out no-ops at real split counts; the checkpoint is the same
    # policy as the GD/BPE loops in queries/training.py).
    proj = fan_out(
        corpus.select(F.col(id_col).alias("_kid"), as_double(vec_col).alias("_kv"))
    ).localCheckpoint(eager=False)
    for _ in range(iters):
        assigned = ivf_assign(proj, cents, 1, "_kid", "_kv")
        rows = assigned.groupBy("_cell").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.element_at(F.col("_kv"), i + 1)).alias(f"_s{i}")
                for i in range(dim)
            ],
        ).collect()
        means = {
            r["_cell"]: [r[f"_s{i}"] / r["_n"] for i in range(dim)] for r in rows
        }
        cents = [(cid, means.get(cid, ce)) for cid, ce in cents]
    return cents


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression tier of ANN.
#
# IVF (above) prunes WHICH vectors a query scans; PQ compresses WHAT is
# scanned: each vector is stored as PQ_SUBS small codes (here 8 codes over
# a 64-dim vector = 32x smaller than float32), and query-time scoring is
# asymmetric distance computation (ADC) — per candidate, PQ_SUBS table
# lookups + adds instead of a dim-length dot product. At 100 TB the codes
# table fits where raw vectors cannot, and a production index composes
# both: IVF to prune cells, PQ codes inside each cell, exact re-rank of
# the short candidate list against raw vectors (fetched by id).
PQ_SUBS = 8        # subspaces (dim must divide evenly)
PQ_CODES = 16      # codewords per subspace
PQ_STRIDE = 16     # deterministic codebook sample stride (vec_id % stride)


def pq_codebook(
    corpus: DataFrame,
    k_codes: int = PQ_CODES,
    stride: int = PQ_STRIDE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic PQ codebook: the first ``k_codes`` stride-sampled
    vectors (ordered by id) — codeword j of subspace m is the m-th slice
    of sample vector j. Like ivf_centroids this is a load-once,
    metadata-sized artifact (k_codes × dim doubles); a deployment trains
    it offline (kmeans_refine per subspace) and ships it with the index."""
    rows = (
        corpus.filter((F.col(id_col) % stride) == 0)
        .select(F.col(id_col).alias("cid"), as_double(vec_col).alias("ce"))
        .orderBy("cid")
        .limit(k_codes)
        .collect()
    )
    if len(rows) < k_codes:
        raise ValueError(
            f"PQ codebook needs {k_codes} stride-{stride} samples, got {len(rows)}"
        )
    return [list(r.ce) for r in rows]


def _pq_sq(sub_a: str, sub_b: str) -> str:
    """Squared L2 between two sub-vector expressions — sequential left
    fold, IEEE-identical to the oracle's list_reduce form."""
    return (
        f"aggregate(zip_with({sub_a}, {sub_b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _pq_lit(cb: list[list[float]]) -> str:
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(repr(x) for x in ce) + ")" for ce in cb
        )
        + ")"
    )


def pq_encode(
    df: DataFrame,
    cb: list[list[float]],
    subs: int = PQ_SUBS,
    id_out: str = "vec_id",
    vec_out: str = "_v",
) -> DataFrame:
    """(id, _codes: array<int>[subs]) — per subspace, the argmin-distance
    codeword (ties to the lowest index, via lexicographic struct min).
    Pure projection over the codebook literal: scan → project, no
    Exchange — at ingest this writes the codes column alongside (or
    instead of) the raw vector."""
    dim = len(cb[0])
    sub = dim // subs
    k = len(cb)
    sub_v = f"slice({vec_out}, (m - 1) * {sub} + 1, {sub})"
    sub_c = f"slice(element_at(_cb, j), (m - 1) * {sub} + 1, {sub})"
    codes = (
        f"transform(sequence(1, {subs}), m -> "
        f"array_min(transform(sequence(1, {k}), j -> "
        f"named_struct('d', {_pq_sq(sub_v, sub_c)}, 'j', j))).j)"
    )
    return df.withColumn("_cb", F.expr(_pq_lit(cb))).select(
        id_out, F.expr(codes).alias("_codes")
    )


def pq_adc_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    cb: list[list[float]],
    subs: int = PQ_SUBS,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, arnk ≤ rerank): the ADC candidate list.

    Each query precomputes its subs × k distance table ONCE (query side
    is broadcast and bounded); per (query, candidate) the approximate
    distance is then subs lookups + adds over the codes column — never a
    dim-length product against the corpus. Candidates ride ids-only into
    the re-rank join."""
    from lhbench_spark.operators import fan_out

    dim = len(cb[0])
    sub = dim // subs
    k = len(cb)
    codes = pq_encode(
        fan_out(corpus).select(
            F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_v")
        ),
        cb, subs, "neighbor_id", "_v",
    )
    sub_q = f"slice(_qv, (m - 1) * {sub} + 1, {sub})"
    sub_c = f"slice(element_at(_cb, j), (m - 1) * {sub} + 1, {sub})"
    tab = (
        f"transform(sequence(1, {subs}), m -> "
        f"transform(sequence(1, {k}), j -> {_pq_sq(sub_q, sub_c)}))"
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
        )
        .withColumn("_cb", F.expr(_pq_lit(cb)))
        .select("query_id", F.expr(tab).alias("_tab"))
    )
    adc = (
        f"aggregate(sequence(1, {subs}), CAST(0.0 AS DOUBLE), (acc, m) -> "
        f"acc + element_at(element_at(_tab, m), element_at(_codes, m)))"
    )
    scored = (
        codes.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.expr(adc).alias("_ad"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_ad"), F.asc("neighbor_id"))
    return (
        scored.withColumn("arnk", F.row_number().over(w))
        .filter(F.col("arnk") <= rerank)
        .select("query_id", "neighbor_id", "arnk")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cb: list[list[float]],
    k: int = 5,
    subs: int = PQ_SUBS,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production PQ search: ADC candidate list → fetch raw vectors by id
    → exact cosine re-rank → top-k. (query_id, neighbor_id, cosine, rnk)."""
    cand = pq_adc_candidates(corpus, queries, cb, subs, rerank, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", norm("_cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_prenormed("_qv", "_cv", "_qn", "_cn").alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("_cos", 6).alias("cosine"), "rnk")
    )


def semantic_dedup_census(
    cells: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "_ev",
    cell_col: str = "_cell",
) -> DataFrame:
    """SemDeDup per-cell census via Arrow-batched per-group matmul
    (Abbas et al. 2023 — the reference implementation also scores each
    k-means cluster as one dense matrix product).

    A vector is dropped iff a LOWER-id vector in its cell has cosine >=
    tau; the output is one (cell, n_vecs, n_dropped, n_kept) row per
    cell. This is the sanctioned Pandas path, not a convenience: the
    equivalent zip_with/aggregate pairwise form evaluates interpreted
    lambdas per coordinate (HOFs don't codegen) and measured ~6.5 s at
    sf0.1 where the per-cell BLAS product takes milliseconds. Group =
    cell, so one task holds one cell's vectors — exactly SemDeDup's
    memory contract (cell size is governed by the codebook's k; the
    row-chunked matmul bounds the score matrix at chunk × cell)."""
    import numpy as np
    import pandas as pd

    def census(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        v = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        v /= norms[:, None]
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        chunk = 1024
        # Quantize before the tau comparison. np.round is round-half-EVEN
        # while DuckDB ROUND is half-away — at a midpoint of the scaled
        # value the two rules differ by a full 1e-9 step, which is a
        # systematic (not ulp-sized) divergence. Instead both engines
        # apply the SAME IEEE ops — floor(x * 1e9 + 0.5) — to their own
        # cosine; multiply/add/floor are correctly rounded everywhere,
        # so the rule is identical and the only residual risk is the
        # unavoidable ulp band around quantization boundaries (same band
        # any rounding convention has).
        tau_q = float(np.floor(tau * 1e9 + 0.5))
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            sims_q = np.floor((v[s:e] @ v.T) * 1e9 + 0.5)
            for r in range(max(s, 1), e):
                if (sims_q[r - s, :r] >= tau_q).any():
                    dropped[r] = True
        nd = int(dropped.sum())
        return pd.DataFrame(
            [
                {
                    "cell": int(pdf[cell_col].iloc[0]),
                    "n_vecs": n,
                    "n_dropped": nd,
                    "n_kept": n - nd,
                }
            ]
        )

    return cells.groupBy(cell_col).applyInPandas(
        census, "cell long, n_vecs long, n_dropped long, n_kept long"
    )
