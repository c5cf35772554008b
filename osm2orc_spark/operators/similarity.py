"""Similarity search over the ``embeddings`` table (array<float> column).

- brute-force cosine top-k            -> ann_topk_bruteforce (baseline)
- all-pairs near-duplicate cosine     -> embedding_near_dup_pairs
- IVF-style probed search             -> ann_ivf_probe (the scale path)

Cross-engine determinism: floats are widened to double (exact) and
quantized with floor(x * 1e6) to BIGINT. Every dot product / norm is then
an integer sum — order-independent and overflow-safe (64 dims x (1e6)^2
~= 6.4e13 << 2^63, and < 2^53 so the final double conversion is exact).
Cosines are computed from those exact integers with IEEE double ops, so
Spark and DuckDB agree bit-for-bit. Spark-side vector math uses
higher-order array functions (zip_with/aggregate) — JVM-evaluated, no
Python, no explode shuffle.

Scale notes: brute-force is O(n*q) with a broadcast query side — the
right plan for one query against any corpus size. All-pairs is O(n^2);
the IVF variant bounds it by cluster: centroid assignment is a broadcast
cross join (centroids are tiny), probing touches only nprobe clusters.
On a real 100 TB corpus the centroid set comes from a sampled k-means:
the deterministic integer Lloyd's fit below trains on an md5-ranked
sample hard-capped at MAX_FIT_ROWS, so the driver collect is bounded at
any corpus size and the DuckDB oracle replays the exact pipeline
(ann_ivf_probe additionally keeps a fixed-centroid-subset variant).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from osm2orc_spark.operators.cache import release_with
from osm2orc_spark.operators.guards import guard_quadratic
from osm2orc_spark.registry import register
from osm2orc_spark.tables import load

QUANT = 1_000_000
N_CENTROIDS = 8
N_PROBE = 2
TOP_K = 10
NEAR_DUP_COS = 0.4

# Random-hyperplane LSH: RP_BITS sign-bit projections. "Random" planes are
# deterministic ±1 matrices derived from md5 parity of "j|i" (j = bit,
# i = 1-based dimension subscript) so Spark and the DuckDB oracle build the
# EXACT same matrix independently. 64 bits -> 8 x 8-bit chunks; pigeonhole
# guarantees every pair within signature hamming 7 shares a chunk.
#
# Parameter history (r4): r1-r3 used 16 bits in 4x4-bit chunks. A 4-bit
# chunk has only 16 values, so two RANDOM vectors collide on some chunk
# with ~1-(1-1/16)^4 ~= 23% probability — measured 23.0% of all pairs
# became candidates at sf0.01, i.e. quadratic candidate volume with a
# constant, the scale-killer the r3 verdict flagged. 8-bit chunks drop the
# per-chunk collision rate to 1/256: measured 3.6% of pairs at sf0.01
# (6.5x fewer candidates), while the pigeonhole guarantee widens from
# hamming<=3/16 to hamming<=7/64. The trade-off is probabilistic recall at
# the LOW cosine threshold (0.4, angle 66°): measured 19% vs 49% of
# cos>=0.4 pairs at sf0.01 (see embedding_lsh_calibration, which records
# exactly these numbers per run). At the actual near-dup operating point
# (cos>=0.9, per-bit agreement ~0.86) an 8-bit chunk matches with ~0.29
# probability and the 8-chunk union catches ~94% of pairs — recall
# concentrates where dedup needs it; more chunks buy back low-cosine
# recall linearly in cost if a pipeline wants it.
RP_BITS = 64
RP_DIM = 64
RP_CHUNK_BITS = 8
RP_CHUNKS = RP_BITS // RP_CHUNK_BITS


def _rp_sign(j: int, i: int) -> int:
    import hashlib

    return 1 if int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


RP_SIGNS = [[_rp_sign(j, i) for i in range(1, RP_DIM + 1)] for j in range(RP_BITS)]


def _quant(col) -> Column:
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _cosine(dot: Column, n2a: Column, n2b: Column) -> Column:
    # try_divide, not `/` (r7 advice): under Spark 4's default ANSI mode a
    # zero-norm vector (all quantized elements 0) makes plain division
    # RAISE DIVIDE_BY_ZERO and kill the whole job — one pathological row
    # in a 100 TB corpus must degrade to a NULL cosine (ranked last /
    # filtered out), never abort the scan.  Identical result wherever the
    # norm is non-zero, so every oracle hash is unchanged.
    return F.try_divide(
        dot.cast("double"),
        F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double")),
    )


# SQL-string twins of _quant/_dot/_cosine (r15, guide §7.3): a cosine
# built from per-node Column calls costs ~200 py4j round trips (three
# HOF aggregates over two HOF transforms); the string form is ONE parsed
# expression with the identical tree.  Callers pass column NAMES (or any
# SQL fragment, e.g. "slice(embedding, 1, 16)").
def _quant_s(col: str) -> str:
    return (
        f"transform({col}, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) "
        "AS BIGINT))"
    )


def _dot_s(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _cosine_s(dot: str, n2a: str, n2b: str) -> str:
    return (
        f"try_divide(CAST({dot} AS DOUBLE), "
        f"sqrt(CAST({n2a} AS DOUBLE)) * sqrt(CAST({n2b} AS DOUBLE)))"
    )


def _cosine_expr(a: str, b: str) -> Column:
    """cosine(quant(a), quant(b)) as ONE parsed SQL expression."""
    qa, qb = _quant_s(a), _quant_s(b)
    return F.expr(
        _cosine_s(_dot_s(qa, qb), _dot_s(qa, qa), _dot_s(qb, qb))
    )


# DuckDB building block: quantized (vec_id, i, v) elements + norms.
_DUCK_QE = f"""
  qe AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v
    FROM embeddings
  ),
  norms AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS n2 FROM qe GROUP BY vec_id)
"""


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH {_DUCK_QE},
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    dots AS (
      SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN qe b ON a.i = b.i, qid
      WHERE b.vec_id = qid.q
      GROUP BY a.vec_id
    )
    SELECT d.vec_id, e.label,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN embeddings e ON e.vec_id = d.vec_id
    JOIN norms na ON na.vec_id = d.vec_id
    JOIN norms nq ON nq.vec_id = (SELECT q FROM qid), qid
    WHERE d.vec_id != qid.q
    ORDER BY cosine DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    doc="Brute-force cosine top-k for a single query vector (min vec_id). "
    "The one-row query side is broadcast; scoring is a narrow map over the "
    "corpus — the correct baseline plan at any corpus size.",
    tags=("similarity",),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "label",
            _cosine_expr("embedding", "q_emb").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH {_DUCK_QE},
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= {NEAR_DUP_COS}
    """,
    doc="Embedding-cosine near-duplicate pairs (all-pairs baseline, "
    "threshold 0.4). O(n^2) by construction — the documented scale path "
    "is ann_ivf_probe's cluster blocking (or LSH random projections) to "
    "restrict pairs to same-bucket candidates.",
    tags=("similarity", "dedup"),
)
def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, *, allow_quadratic: bool = False
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    guard_quadratic(
        emb,
        "embedding_near_dup_pairs",
        "embedding_near_dup_lsh",
        allow_quadratic=allow_quadratic,
    )
    # The left side fans out to n^2 rows; spread it across cores first
    # (single small parquet split otherwise pins the cross join to 1 task).
    a = emb.repartition(spark.sparkContext.defaultParallelism, "vec_id").select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            _cosine_expr("ea", "eb").alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


N_BATCH_QUERIES = 10


@register(
    "ann_topk_batch",
    oracle=f"""
    WITH {_DUCK_QE},
    queries AS (
      SELECT vec_id AS q_id FROM embeddings ORDER BY vec_id LIMIT {N_BATCH_QUERIES}
    ),
    dots AS (
      SELECT q.q_id, a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a
      JOIN queries q ON true
      JOIN qe b ON b.vec_id = q.q_id AND b.i = a.i
      WHERE a.vec_id != q.q_id
      GROUP BY q.q_id, a.vec_id
    ),
    scored AS (
      SELECT d.q_id, d.vec_id,
             CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
      FROM dots d
      JOIN norms na ON na.vec_id = d.vec_id
      JOIN norms nq ON nq.vec_id = d.q_id
    )
    SELECT q_id, vec_id, cosine FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= {TOP_K}
    """,
    doc="Batched ANN: top-10 neighbors for each of 10 query vectors in "
    "ONE pass — broadcast the query block, score corpus x queries with "
    "JVM-side zip_with/aggregate, rank per query with a window. This is "
    "the production retrieval shape (dedup and RAG jobs score query "
    "BLOCKS, not single vectors): corpus scans amortize across the whole "
    "block, and the per-query top-k shuffle partitions on q_id.",
    tags=("similarity",),
)
def ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = (
        emb.orderBy("vec_id")
        .limit(N_BATCH_QUERIES)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    scored = (
        emb.repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            _cosine_expr("embedding", "q_emb").alias("cosine"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "vec_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Deterministic integer Lloyd's: the engine-neutral KMeans both Spark and
# DuckDB can reproduce bit-identically. Vectors are fixed-point quantized
# (floor x*1e6 -> BIGINT, the house rule); initial centroids are the
# vectors of the k md5-ranked vec_ids; each round assigns by integer
# squared distance (tie-break: lowest cid) and updates centroids by
# truncating integer division of per-dimension sums (BIGINT `div` in
# Spark == `//` in DuckDB: both truncate toward zero). A fixed iteration
# count (no convergence test) keeps the unrolled SQL twin finite.
# ---------------------------------------------------------------------------
IVF_KM_ITERS = 3

# Absolute row cap on every Lloyd's-fit training collect (r4 verdict #2):
# a *fraction* is the wrong knob at 100 TB (0.001 of 100 TB is still
# 100 GB on the driver), so the registered default is an absolute bound —
# 65,536 rows ≈ 4096·k for k=16, far above the k·(10..100) training sizes
# the FAISS guidelines call sufficient.  The cap is taken over the SAME
# deterministic (md5(vec_id), vec_id) ranking that seeds the centroids, so
# the SQL twins replay it exactly via _lloyd_cte_sql(fit_m=MAX_FIT_ROWS) /
# _pq_lloyd_cte_sql(fit_m=MAX_FIT_ROWS): when the corpus has fewer rows
# than the cap, ROW_NUMBER() <= cap selects everything and the fit is
# bit-identical to the unbounded form — existing oracle outputs at the
# test SFs are unchanged while the 100 TB collect is bounded at ~32 MB.
MAX_FIT_ROWS = 65_536
# numpy distance matrices are computed in row blocks of this size so the
# n×k×d int64 temp stays ~8-64 MB instead of growing with the sample.
_FIT_BLOCK_ROWS = 8_192


def effective_fit_m(
    n: int, k_min: int, fit_fraction: float, max_fit_rows: int | None
) -> int | None:
    """The effective Lloyd's-fit sample size — the SINGLE source of truth
    for both the Spark-side TakeOrdered cut and the ``fit_m`` an SQL twin
    must replay.  ``fit_fraction`` and ``max_fit_rows`` compose by
    intersection (``min(cap, ceil(frac*n))``), so a twin replaying only
    ``ceil(frac*n)`` would silently diverge from the Python fit once that
    exceeds the cap — compute the replay size HERE, never inline.
    ``None`` means no cut (whole corpus)."""
    if not 0.0 < fit_fraction <= 1.0:
        raise ValueError(f"fit_fraction must be in (0, 1], got {fit_fraction}")
    if max_fit_rows is not None and max_fit_rows < k_min:
        raise ValueError(f"max_fit_rows must be >= {k_min}, got {max_fit_rows}")
    m: int | None = max_fit_rows
    if fit_fraction < 1.0:
        frac_m = max(k_min, math.ceil(fit_fraction * n))
        m = frac_m if m is None else min(m, frac_m)
    return m


def _fit_sample_rows(
    spark: SparkSession,
    sf_dir: str,
    k_min: int,
    fit_fraction: float,
    max_fit_rows: int | None,
) -> list:
    """Collect the md5-ranked training sample for a Lloyd's fit.

    The cut happens SPARK-side (TakeOrdered of the md5 ranking), so the
    driver only ever materializes min(n, cap) rows: with the default
    ``max_fit_rows`` the collect is bounded at any corpus size — the
    FAISS train-on-sample discipline with a hard ceiling rather than a
    corpus-relative fraction.  The sample size comes from
    ``effective_fit_m`` — the same helper a caller must use for the SQL
    twin's ``fit_m``."""
    emb = load(spark, sf_dir, "embeddings")
    sel = emb.select(
        "vec_id",
        F.md5(F.col("vec_id").cast("string")).alias("h"),
        F.expr(_quant_s("embedding")).alias("qv"),
    )
    n = emb.count() if fit_fraction < 1.0 else 0  # n only matters for fractions
    m = effective_fit_m(n, k_min, fit_fraction, max_fit_rows)
    if m is not None:
        sel = sel.orderBy("h", "vec_id").limit(m)
    rows = sel.collect()
    if m is not None and len(rows) > m:  # pragma: no cover — plan invariant
        raise AssertionError(f"fit sample exceeded cap: {len(rows)} > {m}")
    return sorted((r["h"], r["vec_id"], r["qv"]) for r in rows)


def _blocked_argmin(X, cents):
    """First-minimum argmin of squared distance, computed in row blocks so
    the n×k×d int64 temp never exceeds ~_FIT_BLOCK_ROWS·k·d·8 bytes (the
    unblocked broadcast was multi-GB at the 65k-row cap).

    Above 64 centroids the broadcast-subtract tensor is replaced by the
    GEMM expansion |x|² - 2x·Cᵀ + |c|² in float64 — EXACT, not
    approximate: every operand and partial sum is an integer below 2^53
    (values ~2^21, 64-dim dots ≤ 2^48), and float64 addition of exactly-
    representable integers whose partials stay under 2^53 is exact in
    ANY summation order, so BLAS reordering cannot perturb a single bit
    and the first-minimum argmin is identical (test-asserted against
    the tensor path)."""
    import numpy as np

    out = np.empty(len(X), dtype=np.int64)
    if len(cents) > 64:
        Cf = cents.astype(np.float64)
        cn2 = (Cf * Cf).sum(axis=1)
        block = max(256, _FIT_BLOCK_ROWS // max(1, len(cents) // 64))
        for s in range(0, len(X), block):
            blk = X[s : s + block].astype(np.float64)
            d = (blk * blk).sum(axis=1)[:, None] - 2.0 * (blk @ Cf.T) + cn2[None, :]
            out[s : s + block] = d.argmin(axis=1)
        return out
    for s in range(0, len(X), _FIT_BLOCK_ROWS):
        blk = X[s : s + _FIT_BLOCK_ROWS]
        d = ((blk[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        out[s : s + _FIT_BLOCK_ROWS] = d.argmin(axis=1)
    return out


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero division matching SQL BIGINT s//n (DuckDB)
    and s div n (Spark)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _int_array_lit(vals) -> Column:
    return F.array(*[F.lit(int(v)).cast("bigint") for v in vals])


def _sqdist_lit(qv_col: Column, cent: list[int]) -> Column:
    return F.aggregate(
        F.zip_with(qv_col, _int_array_lit(cent), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _argmin_cid(qv_col: Column, cents: list[list[int]]) -> Column:
    """0-based index of the nearest centroid; array_position returns the
    FIRST minimum, so distance ties break toward the lowest cid — the
    same (d, cid) tie-break the SQL twin uses."""
    d = F.array(*[_sqdist_lit(qv_col, c) for c in cents])
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def _arr_sql(vals) -> str:
    """Integer array literal as SQL text — one parsed expression instead
    of 2 py4j round-trips per element (the RP-LSH lesson: hundreds of
    lit() Columns cost seconds of driver time per call)."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sqdist_arr_sql(sub_sql: str, cents) -> str:
    """SQL text for the per-centroid squared-distance array of ``sub_sql``
    (itself SQL text for an array<bigint> column). Callers alias this in
    its OWN projection and take argmin in the next one, so the k
    zip_with/aggregate walks run once per row — argmin-over-inline would
    evaluate the whole array twice (array_position + array_min)."""
    dists = ",".join(
        f"aggregate(zip_with({sub_sql}, {_arr_sql(c)}, (a, b) -> (a-b)*(a-b)),"
        f" cast(0 as bigint), (acc, x) -> acc + x)"
        for c in cents
    )
    return f"array({dists})"


def _lloyd_fit_ints(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    iters: int,
    fit_fraction: float = 1.0,
    max_fit_rows: int | None = MAX_FIT_ROWS,
    sample_rows: list | None = None,
) -> list[list[int]]:
    """Fit k integer centroids over the quantized embeddings.

    ``sample_rows`` lets a caller that fits BOTH coarse centroids and PQ
    codebooks (ann_ivfpq_probe/_recall) hand in one already-collected
    ``_fit_sample_rows`` result: the two fits train on the identical
    md5-ranked sample, so collecting it twice was one whole Spark job of
    pure duplicate work (r14, guide §1.2 'don't compute things twice').

    Per round: assignment is a narrow map with the k centroid vectors
    baked in as literals (broadcast-by-literal — zero shuffle), the
    update is ONE posexplode+groupBy pass whose k*d partial sums come
    back to the driver (O(k*d) rows — the same driver footprint MLlib's
    KMeans uses for its centroid updates).

    The training set is the first min(n, max_fit_rows,
    ceil(fit_fraction*n)) vectors of the deterministic (md5(vec_id),
    vec_id) ranking — the same ranking that seeds the centroids, so
    seeds are always inside the sample and a SQL twin can replay the
    exact sample with one ROW_NUMBER window (no engine RNG).  The
    registered default is the ABSOLUTE cap ``MAX_FIT_ROWS`` (r4 verdict:
    a fraction is the wrong knob at 100 TB), replayed by
    _lloyd_cte_sql(fit_m=MAX_FIT_ROWS).

    The fit itself runs DRIVER-SIDE in numpy over the collected
    (sampled) vectors — the FAISS train-on-sample discipline: at any
    corpus size the training set is bounded (max_fit_rows caps it), so
    k-means belongs in RAM, not in 3 rounds x 2 distributed jobs of
    literal-heavy interpreted expressions (measured 13s -> <0.5s at
    sf0.1). Every arithmetic step is the exact integer rule the
    unrolled DuckDB twin replays (first-minimum argmin with (d, cid)
    tie-break, int64 sums, truncate-toward-zero centroid updates, empty
    clusters keep their previous centroid), so the centroids are
    bit-identical to the distributed formulation — assignment of the
    FULL corpus stays a distributed literal-argmin scan."""
    import numpy as np

    ranked = (
        sample_rows
        if sample_rows is not None
        else _fit_sample_rows(spark, sf_dir, k, fit_fraction, max_fit_rows)
    )
    X = np.array([qv for _, _, qv in ranked], dtype=np.int64)
    cents = X[:k].copy()  # md5-ranked seeds, identical to the SQL twin
    for _ in range(iters):
        cid = _blocked_argmin(X, cents)  # first minimum -> lowest cid on ties
        new = cents.copy()  # empty clusters keep prev centroid
        for c in range(k):
            mask = cid == c
            if mask.any():
                s = X[mask].sum(axis=0)
                n = int(mask.sum())
                q = np.abs(s) // n
                new[c] = np.where(s >= 0, q, -q)  # truncate toward zero
        cents = new
    return [[int(v) for v in row] for row in cents]


def _lloyd_cte_sql(k: int, iters: int, p: str, fit_m: int | None = None) -> str:
    """Unrolled-SQL twin of _lloyd_fit_ints over the ``qe`` CTE.

    Emits CTEs ``{p}cent0..{p}cent{iters}`` (cid, i, c) plus the final
    assignment ``{p}asg`` (vec_id, cid). Fixed iterations unroll to a
    flat CTE chain — no recursion needed. ``fit_m`` (the concrete sample
    size, computed by the caller so both engines share one integer)
    replays fit_fraction sampling: the fit iterations run over the first
    fit_m rows of the (md5(vec_id), vec_id) ranking, while the final
    assignment still covers every vector."""
    fit_src = "qe"
    parts = []
    if fit_m is not None:
        fit_src = f"{p}qef"
        parts.append(f"""{p}fit AS (
      SELECT vec_id FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {fit_m}
    ),
    {p}qef AS (SELECT q.* FROM qe q JOIN {p}fit USING (vec_id))""")
    parts.append(
        f"""{p}init AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM embeddings QUALIFY cid < {k}
    ),
    {p}cent0 AS (SELECT r.cid, q.i, q.v AS c FROM {p}init r JOIN qe q USING (vec_id))"""
    )
    for r in range(1, iters + 1):
        parts.append(f"""{p}d{r} AS (
      SELECT q.vec_id, c.cid, CAST(SUM((q.v - c.c) * (q.v - c.c)) AS BIGINT) AS d
      FROM {fit_src} q JOIN {p}cent{r - 1} c ON c.i = q.i
      GROUP BY 1, 2
    ),
    {p}a{r} AS (
      SELECT vec_id, cid FROM {p}d{r}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    ),
    {p}u{r} AS (
      SELECT a.cid, q.i, CAST(SUM(q.v) AS BIGINT) AS s, COUNT(*) AS n
      FROM {p}a{r} a JOIN {fit_src} q USING (vec_id) GROUP BY 1, 2
    ),
    {p}cent{r} AS (
      SELECT c.cid, c.i, COALESCE(u.s // u.n, c.c) AS c
      FROM {p}cent{r - 1} c LEFT JOIN {p}u{r} u ON u.cid = c.cid AND u.i = c.i
    )""")
    parts.append(f"""{p}df AS (
      SELECT q.vec_id, c.cid, CAST(SUM((q.v - c.c) * (q.v - c.c)) AS BIGINT) AS d
      FROM qe q JOIN {p}cent{iters} c ON c.i = q.i
      GROUP BY 1, 2
    ),
    {p}asg AS (
      SELECT vec_id, cid FROM {p}df
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
    )""")
    return ",\n    ".join(parts)


@register(
    "ann_ivf_kmeans",
    oracle=f"""
    WITH {_DUCK_QE},
    {_lloyd_cte_sql(N_CENTROIDS, IVF_KM_ITERS, "km", fit_m=MAX_FIT_ROWS)},
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    qdist AS (
      SELECT c.cid, CAST(SUM((q.v - c.c) * (q.v - c.c)) AS BIGINT) AS d
      FROM kmcent{IVF_KM_ITERS} c
      JOIN qe q ON q.i = c.i
      JOIN qid ON q.vec_id = qid.q
      GROUP BY c.cid
    ),
    probe AS (
      SELECT cid FROM qdist QUALIFY ROW_NUMBER() OVER (ORDER BY d, cid) <= {N_PROBE}
    ),
    cand AS (
      SELECT a.vec_id, a.cid FROM kmasg a JOIN probe USING (cid), qid
      WHERE a.vec_id != qid.q
    ),
    dots AS (
      SELECT c.vec_id, c.cid, CAST(SUM(e.v * qq.v) AS BIGINT) AS dot
      FROM cand c
      JOIN qe e ON e.vec_id = c.vec_id
      JOIN qe qq ON qq.i = e.i
      JOIN qid ON qq.vec_id = qid.q
      GROUP BY 1, 2
    )
    SELECT d.vec_id, em.label, d.cid,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN embeddings em ON em.vec_id = d.vec_id
    JOIN norms na ON na.vec_id = d.vec_id
    JOIN qid ON true
    JOIN norms nq ON nq.vec_id = qid.q
    ORDER BY cosine DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    doc="The production IVF variant promised by ann_ivf_probe: centroids "
    f"from a deterministic integer Lloyd's fit ({IVF_KM_ITERS} fixed "
    "rounds, md5-ranked seeds, truncating-division updates) so the SAME "
    "k-means is reproducible in DuckDB as unrolled CTEs — upgrading this "
    "query from a rows-only recall gate to a full value oracle. "
    "Assignment bakes the k centroid vectors into the plan as literals "
    "(zero-shuffle narrow map); each round's update is one "
    "posexplode+groupBy with k*d partial sums to the driver — the MLlib "
    "KMeans dataflow, minus its nondeterminism. At 100 TB: fit on a "
    "sample, reuse centroids; probe/score dataflow is unchanged.",
    tags=("similarity",),
)
def ann_ivf_kmeans(
    spark: SparkSession, sf_dir: str, *, fit_fraction: float = 1.0
) -> DataFrame:
    cents = _lloyd_fit_ints(
        spark, sf_dir, N_CENTROIDS, IVF_KM_ITERS, fit_fraction=fit_fraction
    )
    return _ivf_topk(spark, sf_dir, cents)


def _ann_query_prep(
    spark: SparkSession, sf_dir: str, cents: list[list[int]], nprobe: int
) -> tuple[DataFrame, int, list[int], list[int]]:
    """Shared probe prologue: (embeddings, q_id, quantized query vector,
    probed cluster ids).  Query selection + probe ranking are O(k*d)
    driver math over exact ints."""
    emb = load(spark, sf_dir, "embeddings")
    q_row = emb.orderBy("vec_id").limit(1).select("vec_id", "embedding").collect()[0]
    q_id = int(q_row["vec_id"])
    # Same fixed-point rule as _quant, applied driver-side: IEEE multiply
    # then floor over the identical float64 values.
    qq = [math.floor(float(x) * QUANT) for x in q_row["embedding"]]
    qdist = sorted(
        (sum((a - b) * (a - b) for a, b in zip(qq, c)), cid)
        for cid, c in enumerate(cents)
    )
    return emb, q_id, qq, [cid for _, cid in qdist[:nprobe]]


def _ann_scan_vectorized(
    emb: DataFrame,
    cents: list[list[int]],
    qq: list[int],
    q_id: int,
    probe: list[int],
    books: list[list[list[int]]] | None = None,
    lut: list[list[int]] | None = None,
    assign_by: str = "sqdist",
    cent_ids: list[int] | None = None,
) -> DataFrame:
    """Arrow-vectorized ANN scan: cluster assignment, the query cosine,
    and (with ``books``/``lut``) the PQ-ADC approximate dot all run as
    ONE numpy kernel over Arrow batches instead of k x d interpreted
    zip_with/aggregate expressions per row.  Measured at 800k vectors
    (``ann_probe_vectorized`` in SCALING_SKEW.jsonl): the IVF probe
    scan dropped 5.13 s -> 0.76 s (6.8x) with COLLECT-IDENTICAL output
    at sf0.01 and XL — identical because every step is exact or the
    same IEEE expression:

    - quantization: ``np.floor(float64(x) * 1e6) -> int64``, the same
      IEEE multiply+floor as the SQL transform;
    - distances/dots: int64 matmul — exact (values ~2^21, 64-dim dots
      <= 2^48; integer addition order cannot matter);
    - argmin: ``np.argmin`` takes the FIRST minimum — the same
      (distance, id) tie-break as array_position(arr, array_min(arr));
    - cosine: float64(dot) / (sqrt(float64(n2)) * sqrt(float64(qn2))),
      the identical IEEE tree to ``_cosine``, with zero norms emitted
      as NULL exactly like try_divide.

    Emits ``(vec_id, label, cid[, approx_dot], cosine)`` for rows in
    the probed clusters (query row excluded); no join, no exchange —
    the TakeOrdered consumers keep the plan shuffle-free.

    ``assign_by="sqdist"`` (the Lloyd's-fit queries) assigns each
    vector to its min-squared-distance centroid (first-minimum ties);
    ``assign_by="cosine"`` (ann_ivf_probe's fixed-centroid variant)
    assigns to the max-cosine centroid, reproducing the max_by(cid,
    struct(cos, -cid)) semantics exactly: np.argmax takes the FIRST
    maximum (= lowest cid on float ties), NULL cosines (zero norms)
    become -inf so they lose to any real value, and an all-NULL row
    falls to cid 0 — the same pick the struct ordering makes."""
    dim = len(qq)
    with_pq = books is not None

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        cent = np.array(cents, dtype=np.int64)
        qv = np.array(qq, dtype=np.int64)
        qn2 = float((qv * qv).sum())
        cn2 = (cent * cent).sum(axis=1)
        probe_arr = np.array(probe, dtype=np.int64)
        if with_pq:
            B = [np.array(bm, dtype=np.int64) for bm in books]  # m x (16 x d_m)
            bn2 = [(bm * bm).sum(axis=1) for bm in B]
            L = np.array(lut, dtype=np.int64)  # m x 16
            d_m = B[0].shape[1]
        for b in batches:
            vec_id = b.column(b.schema.get_field_index("vec_id")).to_numpy(
                zero_copy_only=False
            )
            emb_col = b.column(b.schema.get_field_index("embedding"))
            flat = emb_col.flatten().to_numpy(zero_copy_only=False)
            Xq = (
                np.floor(flat.astype(np.float64) * QUANT)
                .astype(np.int64)
                .reshape(-1, dim)
            )
            n2 = (Xq * Xq).sum(axis=1)
            if assign_by == "cosine":
                denomc = np.sqrt(n2.astype(np.float64))[:, None] * np.sqrt(
                    cn2.astype(np.float64)
                )[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cosc = (Xq @ cent.T).astype(np.float64) / denomc
                cosc[denomc == 0.0] = -np.inf  # NULL loses to any value
                cid = cosc.argmax(axis=1)  # first max == lowest cid on ties
            else:
                d = n2[:, None] - 2 * (Xq @ cent.T) + cn2[None, :]
                cid = d.argmin(axis=1)
            if cent_ids is not None:
                # positional index -> the centroid's real id (rows were
                # passed sorted by id, so first-max ties still resolve
                # to the lowest id)
                cid = np.array(cent_ids, dtype=np.int64)[cid]
            dotq = Xq @ qv
            denom = np.sqrt(n2.astype(np.float64)) * np.sqrt(qn2)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dotq.astype(np.float64) / denom
            keep = np.isin(cid, probe_arr) & (vec_id != q_id)
            pa_keep = pa.array(keep)
            label = b.column(b.schema.get_field_index("label")).filter(pa_keep)
            # parquet may dictionary-encode the column and filter()
            # preserves the encoding, which Spark's Arrow reader
            # rejects — decode to the plain value type.
            if pa.types.is_dictionary(label.type):
                label = label.cast(label.type.value_type)
            arrays = [pa.array(vec_id[keep]), label, pa.array(cid[keep].astype(np.int32))]
            names = ["vec_id", "label", "cid"]
            if with_pq:
                approx = np.zeros(len(Xq), dtype=np.int64)
                for m in range(len(B)):
                    Xm = Xq[:, m * d_m : (m + 1) * d_m]
                    dm = (
                        (Xm * Xm).sum(axis=1)[:, None]
                        - 2 * (Xm @ B[m].T)
                        + bn2[m][None, :]
                    )
                    approx += L[m, dm.argmin(axis=1)]
                arrays.append(pa.array(approx[keep]))
                names.append("approx_dot")
            # zero-norm rows carry NULL, exactly like try_divide
            arrays.append(pa.array(cos[keep], mask=(denom[keep] == 0.0)))
            names.append("cosine")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    label_t = emb.schema["label"].dataType.simpleString()
    pq_field = "approx_dot bigint, " if with_pq else ""
    return emb.select("vec_id", "label", "embedding").mapInArrow(
        kernel, f"vec_id long, label {label_t}, cid int, {pq_field}cosine double"
    )


def _ivf_topk(
    spark: SparkSession, sf_dir: str, cents: list[list[int]]
) -> DataFrame:
    """The IVF probe core with the fitted centroids as a parameter — the
    fused registered query (``ann_ivf_kmeans``) passes a fresh fit; the
    fit-once/probe-many surface (``operators.ann_index``) passes a
    prebuilt index, so probe cost is priced separately from the bounded
    fit (r8 verdict #4).  r9: the scan is the Arrow-vectorized kernel
    (``_ann_scan_vectorized`` — collect-identical to the expression
    form, 6.8x at 800k vectors)."""
    emb, q_id, qq, probe = _ann_query_prep(spark, sf_dir, cents, N_PROBE)
    return (
        _ann_scan_vectorized(emb, cents, qq, q_id, probe)
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


# Shared DuckDB fragment: sign planes -> signature bits -> 8-bit chunk
# values -> same-chunk candidate pairs. Chunk values are summed directly
# from the per-chunk bit offsets (j % chunk_bits), never assembled into
# one 64-bit signature — bit 63 would overflow signed BIGINT.
_DUCK_RP_CAND = f"""
  signs AS (
      SELECT j, i,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(generate_series(0, {RP_BITS - 1})) AS j)
      CROSS JOIN (SELECT unnest(generate_series(1, {RP_DIM})) AS i)
  ),
  sigbits AS (
      SELECT q.vec_id, s.j,
             CASE WHEN SUM(s.s * q.v) >= 0 THEN 1 ELSE 0 END AS bit
      FROM qe q JOIN signs s ON s.i = q.i
      GROUP BY q.vec_id, s.j
  ),
  chunks AS (
      SELECT vec_id, j // {RP_CHUNK_BITS} AS c,
             CAST(SUM(bit * power(2, j % {RP_CHUNK_BITS})) AS BIGINT) AS cv
      FROM sigbits GROUP BY vec_id, j // {RP_CHUNK_BITS}
  ),
  cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM chunks a JOIN chunks b
        ON a.c = b.c AND a.cv = b.cv AND a.vec_id < b.vec_id
  )
"""


def _rp_sigs_and_candidates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Quantized vectors + RP-LSH same-chunk candidate pairs.

    Returns ``(sigs, cand)``: ``sigs`` is the ``(vec_id, q, chs)``
    frame (quantized vector + chunk values, one narrow scan, no shuffle;
    persist + release scoping belong to the caller — see the note at the
    construction site), ``cand`` the distinct ``(vec_a, vec_b)``
    same-chunk pairs from an equi-join on ``(c, cv)``. Signature bits are
    sign(dot(quantized vec, ±1 plane)) in exact BIGINT arithmetic, so both
    engines agree bit-for-bit; chunk values are built per-chunk (values
    <= 255) rather than as one 64-bit signature, which would overflow
    signed BIGINT at bit 63.
    """
    emb = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )

    # The 64 plane dot products are built as ONE parsed SQL expression,
    # not 64x64 F.lit Column objects: the py4j round-trips of the literal
    # construction alone cost ~9s of driver time per call at RP_BITS=64.
    def _plane_bit_sql(j: int) -> str:
        arr = ", ".join(str(s) for s in RP_SIGNS[j])
        return (
            f"aggregate(zip_with(q, array({arr}), (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) >= 0"
        )

    struct_sqls = []
    for c in range(RP_CHUNKS):
        bits = " + ".join(
            f"(CASE WHEN {_plane_bit_sql(c * RP_CHUNK_BITS + t)} THEN {2**t}L ELSE 0L END)"
            for t in range(RP_CHUNK_BITS)
        )
        struct_sqls.append(f"struct({c} AS c, ({bits}) AS cv)")
    # NOT persisted here: the caller persists sigs and scopes the release
    # to its own returned result (release_with) — cache substitution
    # matches by logical plan, so cand (built below from the unpersisted
    # object) still reads the cache once the caller persists.
    sigs = (
        emb.select("vec_id", F.expr(_quant_s("embedding")).alias("q"))
        .select("vec_id", "q", F.expr("array(" + ", ".join(struct_sqls) + ")").alias("chs"))
    )
    chunks = sigs.select("vec_id", F.explode("chs").alias("ch")).select(
        "vec_id", "ch.c", "ch.cv"
    )
    a = chunks.select(F.col("vec_id").alias("vec_a"), "c", "cv")
    b = chunks.select(F.col("vec_id").alias("vec_b"), "c", "cv")
    # NOTE(r15): the dedup family's pair-distinct fusion (repartition the
    # raw match rows by vec_a so the distinct rides one exchange) was
    # tried here and measured WORSE 6/6 at sf0.1 (min 1.083 vs 0.939,
    # med 1.230 vs 1.021): unlike the shingle verifies (array_intersect
    # over full shingle sets, heavy enough that r14 already needed an
    # explicit repartition), the cosine dot per pair is light, so AQE's
    # byte-based coalesce of the distinct exchange IS the right plan and
    # a fixed-N repartition only adds tasks and scheduling overhead.
    # Left as the AQE-planned distinct.
    cand = (
        a.join(b, ["c", "cv"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    return sigs, cand


@register(
    "embedding_near_dup_lsh",
    oracle=f"""
    WITH {_DUCK_QE},
    {_DUCK_RP_CAND},
    dots AS (
      SELECT c.vec_a, c.vec_b, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM cand c
      JOIN qe a ON a.vec_id = c.vec_a
      JOIN qe b ON b.vec_id = c.vec_b AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT vec_a, vec_b,
           CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots
    JOIN norms na ON na.vec_id = vec_a
    JOIN norms nb ON nb.vec_id = vec_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= {NEAR_DUP_COS}
    """,
    doc="Embedding near-dup via random-hyperplane LSH: 64 deterministic "
    "sign-bit projections per vector, 8x8-bit chunk banding (pigeonhole "
    "covers hamming <= 7 between signatures), exact-cosine verification "
    "of same-chunk candidates only. This is the all-pairs scale path: "
    "an 8-bit chunk collides on random vectors with p=1/256, so the "
    "candidate join is ~3.6% of the pair space at sf0.01 (vs 23% for the "
    "r1-r3 4-bit chunks — quadratic-with-a-constant, since fixed). "
    "Recall vs the exhaustive embedding_near_dup_pairs concentrates at "
    "high cosine (~94% at cos>=0.9) and is measured per-corpus by "
    "embedding_lsh_calibration; the hyperplane matrix is "
    "md5-parity-derived so both engines rebuild it bit-identically. "
    "Auto-switches to adaptive band refinement when the memoized "
    "max-bucket probe exceeds LSH_BUCKET_CAP (r8 verdict #1a: the fixed "
    "2^8 band space saturates — 1.19e10 join rows / DNF at 800k "
    "vectors; refinement moves 148x fewer rows, output-identical below "
    "the cap).",
    tags=("similarity", "dedup"),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs, cand = _rp_sigs_and_candidates(spark, sf_dir)
    sigs = sigs.persist()
    # NOTE(r15): r14 added an eager sigs.count() here to serialize the
    # cache build before the racing candidate/verify consumers, on an
    # interleaved A/B reading 0.49-0.57 s eager vs 0.75-1.17 s lazy.
    # Neither the driver (PERF_r14: 0.77x) nor a quiet-window
    # bench-style re-measure reproduced it — with caches cleared per
    # pass the count() is a pure serialization barrier (lazy won 6/6
    # runs, med 1.31 vs 1.50 s; the r14 numbers came from a warm-cache
    # protocol where the count was nearly free).  Reverted to the lazy
    # r13 spelling, matching every other dedup-family cache site where
    # eager builds measured worse (the §5 NOTEs).
    # r9 (r8 verdict #1a): a cheap memoized probe — the max level-1
    # bucket size, an agg over at most RP_CHUNKS * 2^RP_CHUNK_BITS =
    # 2,048 groups of the (already persisted) signature frame — decides
    # whether the 8-bit banding is saturated.  Below the cap the plan is
    # byte-identical to the r8 registered plan (sf0.1's largest bucket
    # is 29); above it the adaptive band refinement engages and the
    # query cannot DNF (measured: 1.19e10 -> 8.0e7 candidate rows at
    # 800k vectors, lsh_bucket_saturation / lsh_refined_xl).  The probe
    # memoizes per sf_dir, so repeated calls (bench passes) skip it.
    from osm2orc_spark.operators import switches

    def _max_bucket() -> int:
        row = (
            sigs.select(F.explode("chs").alias("ch"))
            .groupBy("ch.c", "ch.cv")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m"))
            .first()
        )
        return row["m"] or 0

    if switches.cached_probe(sf_dir, "lsh_max_bucket", _max_bucket) > LSH_BUCKET_CAP:
        cand = _lsh_refined_candidates(sigs, LSH_BUCKET_CAP)
    return release_with(_lsh_cosine_verify(sigs, cand), sigs)


# Level-1 buckets above this size get their band key refined; below it
# they keep the full 8-bit-band recall.  Chosen so the driver SFs are
# untouched (sf0.1's largest bucket is 29 — ``lsh_bucket_saturation`` in
# SCALING_SKEW.jsonl) while any corpus big enough to saturate the 2^8
# band space refines instead of exploding.
LSH_BUCKET_CAP = 256


def _lsh_cosine_verify(sigs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-cosine verification of candidate pairs against the cached
    quantized vectors — the shared tail of the 8-bit and refined
    candidate branches."""
    ea = sigs.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"))
    eb = sigs.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"))
    # qa/qb are ALREADY quantized (the cached sigs.q column) — cosine
    # over the raw arrays, no re-quantization.
    cos = F.expr(
        _cosine_s(_dot_s("qa", "qb"), _dot_s("qa", "qa"), _dot_s("qb", "qb"))
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
    )


def _lsh_refined_candidates(sigs: DataFrame, bucket_cap: int) -> DataFrame:
    """Candidate pairs by ADAPTIVE BAND REFINEMENT — the scale path
    ``embedding_near_dup_lsh`` takes when its max-bucket probe exceeds
    ``bucket_cap``.

    The 8-bit bands have only 2^8 values, so the bucket space saturates
    at ~10^3 buckets per band and in-bucket pair counts grow
    QUADRATICALLY once the corpus outgrows it — measured
    (``lsh_bucket_saturation``): 800k vectors put 1.19 x 10^10 rows
    through the candidate join (158,000x the sf0.1 count for 400x the
    data); the unrefined plan did not finish a 590 s budget there.

    Refinement keeps the candidate join bounded at ANY corpus size: a
    level-1 bucket (c, cv) holding more than ``bucket_cap`` vectors
    extends its join key with the NEXT signature chunk's value
    (cv2 = chs[(c+1) mod RP_CHUNKS]) — those collisions become
    16-bit-band collisions — while buckets under the cap keep the exact
    8-bit semantics (their rows carry the sentinel cv2 = -1, which can
    never equal a real chunk value on a refined row).  Output on any
    corpus whose buckets are all under the cap is IDENTICAL to the
    unrefined candidates (test-asserted at sf0.01 by forcing the probe;
    recorded at sf0.1 too).

    Measured at 800k vectors (``lsh_refined_xl`` /
    ``lsh_refined_planted`` in SCALING_SKEW.jsonl): the refined join
    moves 8.0 x 10^7 rows instead of 1.19 x 10^10 (148x; max refined
    bucket 270), one pass 205 s on local[32] where the unrefined plan
    did not finish.  The recall tradeoff is the standard LSH band-width
    curve, quantified: 16-bit bands keep **65% of cos >= 0.9 pairs**
    (2,500 planted companions, median quantized cos 0.94; theory p^16 at
    p = 0.889 over 8 overlapping chunk-pair bands) and ~0.7% of
    threshold-zone [0.4, 0.6) pairs (p^16 ~ 6e-4 at p = 0.63) — i.e.
    refinement preserves the near-DUP contract and sheds the
    threshold-zone tail.  Mid-cosine similarity at corpus scale is the
    cluster-blocked family's job (dedup_semantic_kmeans,
    embedding_prototype_prune), not a band-LSH sweep's.

    An exact-duplicate class larger than the refined bucket is the
    documented ``dedup_exact``-first contract, same as the dfcap
    variant's hot-shingle posture.  For corpora another 10^3 beyond,
    compose another chunk (cv3) — the same move, one more level."""
    # ch2: (vec_id, c, cv, cv2) — the level-2 value rides along from the
    # cached chs array (element_at is O(1) per exploded row).
    ch2 = sigs.select("vec_id", F.explode("chs").alias("ch"), "chs").select(
        "vec_id",
        F.col("ch.c").alias("c"),
        F.col("ch.cv").alias("cv"),
        F.element_at("chs", (F.pmod(F.col("ch.c") + 1, F.lit(RP_CHUNKS)) + 1).cast("int"))[
            "cv"
        ].alias("cv2"),
    )
    # Hot level-1 buckets: at most RP_CHUNKS * 2^RP_CHUNK_BITS = 2,048
    # rows at ANY corpus size — always broadcastable.
    hot = (
        ch2.groupBy("c", "cv")
        .agg(F.count(F.lit(1)).alias("n_bucket"))
        .filter(F.col("n_bucket") > bucket_cap)
        .select("c", "cv")
    )
    keys = ch2.join(F.broadcast(hot), ["c", "cv"], "left_anti").select(
        "vec_id", "c", "cv", F.lit(-1).cast("long").alias("cv2")
    ).unionByName(
        ch2.join(F.broadcast(hot), ["c", "cv"], "left_semi").select(
            "vec_id", "c", "cv", "cv2"
        )
    )
    a = keys.select(F.col("vec_id").alias("vec_a"), "c", "cv", "cv2")
    b = keys.select(F.col("vec_id").alias("vec_b"), "c", "cv", "cv2")
    return (
        a.join(b, ["c", "cv", "cv2"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


@register(
    "embedding_lsh_calibration",
    oracle=f"""
    WITH {_DUCK_QE},
    {_DUCK_RP_CAND},
    truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN qe b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    tp AS (
      SELECT t.vec_a, t.vec_b
      FROM truth t
      JOIN norms na ON na.vec_id = t.vec_a
      JOIN norms nb ON nb.vec_id = t.vec_b
      WHERE CAST(t.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= {NEAR_DUP_COS}
    )
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_vec,
           (SELECT COUNT(*) FROM tp) AS n_true,
           (SELECT COUNT(*) FROM cand) AS n_cand,
           (SELECT COUNT(*) FROM cand JOIN tp USING (vec_a, vec_b)) AS n_found,
           CASE WHEN (SELECT COUNT(*) FROM tp) > 0
                THEN CAST((SELECT COUNT(*) FROM cand JOIN tp USING (vec_a, vec_b)) AS DOUBLE)
                     / (SELECT COUNT(*) FROM tp)
                ELSE NULL END AS recall,
           CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
             / ((SELECT COUNT(*) FROM embeddings) * ((SELECT COUNT(*) FROM embeddings) - 1) / 2.0)
             AS cand_rate
    """,
    doc="Sketch calibration for the RP-LSH near-dup pipeline: candidate "
    f"volume and recall of the {RP_CHUNKS}x{RP_CHUNK_BITS}-bit chunk "
    "banding against the exact all-pairs cosine truth (quadratic — "
    "guarded, eval-only; the truth join is the cost being avoided in "
    "production). One row: corpus size, true cos>=0.4 pairs, candidate "
    "pairs, candidates that are true pairs, recall, and candidate rate "
    "as a fraction of the n*(n-1)/2 pair space. This is the eval that "
    "justifies the banding parameters in SURVEY §8: run it before "
    "trusting a bit-width/chunk configuration on a new corpus.",
    tags=("similarity", "dedup", "eval"),
)
def embedding_lsh_calibration(
    spark: SparkSession, sf_dir: str, *, allow_quadratic: bool = False
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    guard_quadratic(
        emb,
        "embedding_lsh_calibration",
        "embedding_near_dup_lsh",
        allow_quadratic=allow_quadratic,
    )
    sigs, cand = _rp_sigs_and_candidates(spark, sf_dir)
    sigs = sigs.persist()
    a = sigs.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"))
    b = sigs.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"))
    # qa/qb are already quantized — cosine over the raw arrays.
    truth_cos = F.expr(
        _cosine_s(_dot_s("qa", "qb"), _dot_s("qa", "qa"), _dot_s("qb", "qb"))
    )
    truth = (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", truth_cos.alias("cosine"))
        .filter(F.col("cosine") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b")
        .persist()
    )
    n_vec = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_found = cand.join(truth, ["vec_a", "vec_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_found")
    )
    return release_with(
        n_vec.crossJoin(n_true)
        .crossJoin(n_cand)
        .crossJoin(n_found)
        .select(
            "n_vec",
            "n_true",
            "n_cand",
            "n_found",
            # Explicit zero-true-pairs guard (identical CASE in the SQL
            # twin): x/0 is engine-divergent territory — see the
            # anomaly_zscore_events NaN lesson.
            F.when(
                F.col("n_true") > 0,
                F.col("n_found").cast("double") / F.col("n_true"),
            ).alias("recall"),
            (
                F.col("n_cand").cast("double")
                / (F.col("n_vec") * (F.col("n_vec") - 1) / F.lit(2.0))
            ).alias("cand_rate"),
        ),
        truth,
        sigs,
    )


@register(
    "ann_ivf_probe",
    oracle=f"""
    WITH {_DUCK_QE},
    cdot AS (
      SELECT a.vec_id, b.vec_id AS cid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN qe b ON a.i = b.i
      WHERE b.vec_id < {N_CENTROIDS}
      GROUP BY 1, 2
    ),
    ccos AS (
      SELECT c.vec_id, c.cid,
             CAST(c.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
      FROM cdot c
      JOIN norms na ON na.vec_id = c.vec_id
      JOIN norms nc ON nc.vec_id = c.cid
    ),
    assign AS (
      SELECT vec_id, cid FROM ccos
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1
    ),
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    probe AS (
      SELECT cid FROM ccos, qid WHERE vec_id = qid.q
      QUALIFY ROW_NUMBER() OVER (ORDER BY cos DESC, cid) <= {N_PROBE}
    ),
    qdot AS (
      SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN qe b ON a.i = b.i, qid
      WHERE b.vec_id = qid.q
      GROUP BY 1
    )
    SELECT s.vec_id, e.label, s.cid,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
    FROM assign s
    JOIN probe USING (cid)
    JOIN qdot d ON d.vec_id = s.vec_id
    JOIN embeddings e ON e.vec_id = s.vec_id
    JOIN norms na ON na.vec_id = s.vec_id
    JOIN norms nq ON nq.vec_id = (SELECT q FROM qid), qid
    WHERE s.vec_id != qid.q
    ORDER BY cosine DESC, s.vec_id
    LIMIT {TOP_K}
    """,
    doc="IVF-style probed ANN: assign every vector to its best of 8 "
    "deterministic centroids, probe the query's 2 best clusters, score "
    "only those members. The production variant is ann_ivf_kmeans: same "
    "probe/assign dataflow with centroids from the bounded-sample "
    "integer Lloyd's fit. r9: cosine argmax + the query cosine run in "
    "the shared Arrow kernel (collect-identical to the expression form "
    "— test-asserted — and join-free: the r8 max_by shape still "
    "exchanged one row per vector; the kernel exchanges nothing before "
    "the TakeOrdered).",
    tags=("similarity",),
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # Bounded collects: < N_CENTROIDS centroid rows + the 1 query row.
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cent_ids = [int(r["vec_id"]) for r in cent_rows]
    cents = [
        [math.floor(float(x) * QUANT) for x in r["embedding"]] for r in cent_rows
    ]
    q_row = emb.orderBy("vec_id").limit(1).select("vec_id", "embedding").collect()[0]
    q_id = int(q_row["vec_id"])
    qq = [math.floor(float(x) * QUANT) for x in q_row["embedding"]]
    # Probe ranking (cos DESC nulls last, cid) in driver floats — the
    # identical IEEE expression the ccos frame computed (exact int dot,
    # sqrt/multiply/divide in the same order).
    qn2 = sum(v * v for v in qq)
    ranked = []
    for cid, c in zip(cent_ids, cents):
        cn2 = sum(v * v for v in c)
        cos = (
            float(sum(a * b for a, b in zip(qq, c)))
            / (math.sqrt(float(qn2)) * math.sqrt(float(cn2)))
            if qn2 > 0 and cn2 > 0
            else None
        )
        ranked.append((cos, cid))
    ranked.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
    probe = [cid for _, cid in ranked[:N_PROBE]]
    return (
        _ann_scan_vectorized(
            emb, cents, qq, q_id, probe, assign_by="cosine", cent_ids=cent_ids
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


def _ann_ivf_probe_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r8 expression/aggregate form of ``ann_ivf_probe`` (ccos
    persist + max_by argmax + broadcast probe join), kept as the
    reference implementation the vectorized registered query is
    identity-tested against (tests/test_switches.py)."""
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    ccos = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        _cosine_expr("embedding", "c_emb").alias("cos"),
    ).persist()
    # max_by struct (cos, -cid) == (cos DESC, cid ASC) argmax, NULLs
    # included (verified vs the window form in tests/test_advanced.py).
    assign = ccos.groupBy("vec_id").agg(
        F.max_by("cid", F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))).alias(
            "cid"
        )
    )
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    probe = (
        ccos.join(F.broadcast(q), ccos.vec_id == F.col("q_id"))
        # Bounded unpartitioned window: k rows total at any corpus size.
        .withColumn("rn", F.row_number().over(W.orderBy(F.desc("cos"), "cid")))
        .filter(F.col("rn") <= N_PROBE)
        .select("cid")
    )
    return release_with(
        assign.join(F.broadcast(probe), "cid")
        .join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "label",
            "cid",
            _cosine_expr("embedding", "q_emb").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K),
        ccos,
    )


INT8_MAX = 127


@register(
    "embedding_int8_quantize",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, label, qv,
             list_max(list_transform(qv, v -> abs(v))) AS max_abs
      FROM q
    ),
    i8 AS (
      SELECT vec_id, label, max_abs,
             CASE WHEN max_abs = 0 THEN qv
                  ELSE list_transform(qv, v -> CAST(floor(v * {INT8_MAX}.0 / max_abs) AS BIGINT))
             END AS q8
      FROM m
    )
    SELECT vec_id, label,
           CAST(max_abs AS BIGINT) AS max_abs,
           md5(array_to_string(q8, ',')) AS q8_md5,
           CAST(list_sum(list_transform(q8, v -> v * v)) AS BIGINT) AS q8_sq_norm
    FROM i8
    """,
    doc=f"Symmetric int8 quantization of embeddings (the 4x storage / "
    "bandwidth compression step before an ANN index build): elements are "
    f"first fixed-point quantized (floor x*1e6, the engine-neutral rule), "
    f"then scaled to [-{INT8_MAX},{INT8_MAX}] by the per-vector max — all "
    "integer or exact-IEEE arithmetic, so both engines produce identical "
    "codes. Output carries the scale (max_abs), an md5 over the code "
    "vector, and its exact integer squared norm. Narrow per-row op, "
    "zero shuffles, fully parallel.",
    tags=("similarity",),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    m = emb.selectExpr(
        "vec_id", "label", f"{_quant_s('embedding')} AS qv"
    ).selectExpr("*", "array_max(transform(qv, v -> abs(v))) AS max_abs")
    q8 = F.expr(
        "CASE WHEN max_abs = 0 THEN qv ELSE transform(qv, "
        f"v -> CAST(floor(v * {float(INT8_MAX)!r}D / max_abs) AS BIGINT)) END"
    )
    i8 = m.withColumn("q8", q8)
    return i8.select(
        "vec_id",
        "label",
        F.col("max_abs").cast("bigint").alias("max_abs"),
        F.md5(F.encode(F.concat_ws(",", F.col("q8")), "utf-8")).alias("q8_md5"),
        F.aggregate(
            F.transform("q8", lambda v: v * v),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("q8_sq_norm"),
    )


@register(
    "embedding_dim_stats",
    oracle=f"""
    WITH qe AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {QUANT}) AS BIGINT) AS v
      FROM embeddings
    ),
    g AS (
      SELECT dim,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             SUM(CAST(v AS DECIMAL(38,0))) AS s,
             SUM(CAST(v * v AS DECIMAL(38,0))) AS ss,
             CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_n,
             MIN(v) AS min_q, MAX(v) AS max_q
      FROM qe GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(n AS BIGINT) AS n,
           CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_micro,
           CAST(FLOOR((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT) AS var_micro2,
           zero_n,
           CAST(zero_n AS DOUBLE) / CAST(n AS DOUBLE) AS zero_frac,
           min_q, max_q,
           min_q = max_q AS is_constant
    FROM g
    ORDER BY dim
    """,
    doc="Per-dimension embedding QC — the report run before building any "
    "retrieval index: mean, variance, zero fraction, range, and a "
    "constant-dimension flag for each of the 64 dims. Collapsed or dead "
    "dimensions (var ~ 0, zero_frac ~ 1) waste index bits and distort "
    "cosine geometry; this catches them corpus-wide. Determinism: values "
    "quantize to BIGINT micros, (n, sum, sum-of-squares) accumulate in "
    "DECIMAL(38,0) (order-independent, overflow-safe at corpus row "
    "counts), and the only IEEE steps are identical final expressions in "
    "both engines (the anomaly_zscore_events discipline). The variance "
    "numerator n*ss - s*s is an IEEE DOUBLE step from the start — each "
    "exact decimal operand casts to double, then multiply/subtract in "
    "identical order in both engines — because a DECIMAL(38,0) product "
    "would overflow 38 digits (Spark NULLs, DuckDB falls back to double: "
    "silent divergence) well below 100 TB row counts. One "
    "posexplode + groupBy(dim): 64 groups, map-side partial aggregation "
    "reduces the exchange to 64 rows per partition regardless of corpus "
    "size — scan-bound at 100 TB.",
    tags=("similarity", "eval"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qe = emb.select(F.posexplode(F.expr(_quant_s("embedding"))).alias("pos", "v"))
    g = qe.groupBy((F.col("pos") + 1).cast("bigint").alias("dim")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("ss"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).cast("bigint").alias("zero_n"),
        F.min("v").alias("min_q"),
        F.max("v").alias("max_q"),
    )
    return g.select(
        "dim",
        F.col("n").cast("bigint").alias("n"),
        F.floor(F.col("s").cast("double") / F.col("n").cast("double"))
        .cast("bigint")
        .alias("mean_micro"),
        # DOUBLE from the start: a decimal n*ss / s*s product overflows
        # precision 38 at large n (Spark -> NULL, DuckDB -> double
        # fallback — silent cross-engine divergence).  Casting each exact
        # decimal operand to double and doing IEEE mult/sub in the same
        # order as the SQL twin is bit-deterministic at any corpus size.
        F.floor(
            (
                F.col("n").cast("double") * F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s").cast("double")
            )
            / (F.col("n").cast("double") * F.col("n").cast("double"))
        )
        .cast("bigint")
        .alias("var_micro2"),
        "zero_n",
        (F.col("zero_n").cast("double") / F.col("n").cast("double")).alias("zero_frac"),
        "min_q",
        "max_q",
        (F.col("min_q") == F.col("max_q")).alias("is_constant"),
    ).orderBy("dim")


def _int8_codes(emb: DataFrame) -> DataFrame:
    """(vec_id, label, q8 array<bigint>) int8 code vectors — the shared
    front-end of embedding_int8_quantize and the int8 ANN probe."""
    m = emb.selectExpr(
        "vec_id", "label", f"{_quant_s('embedding')} AS qv"
    ).selectExpr("*", "array_max(transform(qv, v -> abs(v))) AS max_abs")
    q8 = F.expr(
        "CASE WHEN max_abs = 0 THEN qv ELSE transform(qv, "
        f"v -> CAST(floor(v * {float(INT8_MAX)!r}D / max_abs) AS BIGINT)) END"
    )
    return m.withColumn("q8", q8).select("vec_id", "label", "q8")


_DUCK_I8 = f"""
  q AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * {{quant}}) AS BIGINT)) AS qv
    FROM embeddings
  ),
  m AS (
    SELECT vec_id, label, qv,
           list_max(list_transform(qv, v -> abs(v))) AS max_abs
    FROM q
  ),
  codes AS (
    SELECT vec_id, label,
           CASE WHEN max_abs = 0 THEN qv
                ELSE list_transform(qv, v -> CAST(floor(v * {{i8max}}.0 / max_abs) AS BIGINT))
           END AS q8
    FROM m
  )
"""


@register(
    "ann_topk_int8",
    oracle=f"""
    WITH {_DUCK_I8.format(quant=QUANT, i8max=INT8_MAX)},
    e AS (
      SELECT vec_id, label, generate_subscripts(q8, 1) AS i, unnest(q8) AS v
      FROM codes
    ),
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    dots AS (
      SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dot_i8
      FROM e a JOIN e b ON a.i = b.i, qid
      WHERE b.vec_id = qid.q
      GROUP BY a.vec_id
    )
    SELECT d.vec_id, c.label, d.dot_i8
    FROM dots d JOIN codes c ON c.vec_id = d.vec_id, qid
    WHERE d.vec_id != qid.q
    ORDER BY d.dot_i8 DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    doc="Top-k by int8 dot product over the quantized code vectors — the "
    "compressed-domain rescoring path: 4x less memory bandwidth per "
    "candidate than float scoring and pure integer arithmetic (exact in "
    "both engines, no fp ordering hazards). At scale this is the cheap "
    "second stage after an IVF/LSH bucket probe, with float rescoring "
    "reserved for the final shortlist. Same broadcast-one-row plan shape "
    "as the float brute-force baseline.",
    tags=("similarity",),
)
def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = _int8_codes(load(spark, sf_dir, "embeddings"))
    q = (
        codes.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("q8").alias("q8_q"))
    )
    return (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "label",
            _dot(F.col("q8"), F.col("q8_q")).alias("dot_i8"),
        )
        .orderBy(F.desc("dot_i8"), "vec_id")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# Product quantization with asymmetric distance computation (PQ-ADC).
# ---------------------------------------------------------------------------
PQ_M = 8  # subspaces over the 64-dim embedding
PQ_D = 8  # dims per subspace
PQ_K = 16  # codes per subspace -> 8 x 4-bit codes per vector (16x smaller)
PQ_SHORTLIST = 50  # ADC shortlist size before exact re-rank


def _pq_lloyd_fit(
    spark: SparkSession,
    sf_dir: str,
    iters: int,
    fit_fraction: float = 1.0,
    max_fit_rows: int | None = MAX_FIT_ROWS,
    sample_rows: list | None = None,
) -> list[list[list[int]]]:
    """Per-subspace deterministic integer Lloyd's: books[m][cid] is the
    PQ_D-int centroid of code cid in subspace m.

    Like _lloyd_fit_ints, the fit runs DRIVER-SIDE in numpy over the
    collected vectors (the FAISS train-on-sample discipline — codebook
    training is RAM-scale at any corpus size) with the exact integer
    arithmetic the unrolled DuckDB twin replays: per-subspace
    first-minimum argmin, int64 sums, truncate-toward-zero updates,
    empty codes keep their previous centroid. Seeds are the md5-ranked
    PQ_K vec_ids' subvectors (one ranking shared across subspaces).
    The training set is the first min(n, max_fit_rows,
    ceil(fit_fraction*n)) vectors of the (md5(vec_id), vec_id) ranking,
    cut SPARK-side so the driver only collects the bounded sample — the
    same 100 TB posture as _lloyd_fit_ints (absolute MAX_FIT_ROWS cap by
    default), replayable by _pq_lloyd_cte_sql(fit_m)."""
    import numpy as np

    ranked = (
        sample_rows
        if sample_rows is not None
        else _fit_sample_rows(spark, sf_dir, PQ_K, fit_fraction, max_fit_rows)
    )
    X = np.array([qv for _, _, qv in ranked], dtype=np.int64)
    # books[m][cid] seeds from the md5-ranked first PQ_K vectors' subvectors
    books = [X[:PQ_K, m * PQ_D : (m + 1) * PQ_D].copy() for m in range(PQ_M)]
    for _ in range(iters):
        new = []
        for m in range(PQ_M):
            sub = X[:, m * PQ_D : (m + 1) * PQ_D]
            cid = _blocked_argmin(sub, books[m])  # first min -> lowest cid
            bm = books[m].copy()  # empty codes keep prev centroid
            for c in range(PQ_K):
                mask = cid == c
                if mask.any():
                    s = sub[mask].sum(axis=0)
                    n = int(mask.sum())
                    q = np.abs(s) // n
                    bm[c] = np.where(s >= 0, q, -q)  # truncate toward zero
            new.append(bm)
        books = new
    return [[[int(v) for v in c] for c in bm] for bm in books]


def _pq_lloyd_cte_sql(iters: int, fit_m: int | None = None) -> str:
    """Unrolled-SQL twin of _pq_lloyd_fit over ``qe``: emits ``qs``
    (vec_id, m, il, v), ``book0..book{iters}`` (m, cid, il, c) and the
    final per-subspace code assignment ``pqasg`` (vec_id, m, cid).
    ``fit_m`` replays fit_fraction sampling: training iterations run over
    the first fit_m rows of the (md5(vec_id), vec_id) ranking, while the
    final code assignment still covers every vector."""
    fit_src = "qs"
    parts = []
    if fit_m is not None:
        fit_src = "pqqsf"
        parts.append(f"""pqfit AS (
      SELECT vec_id FROM embeddings
      QUALIFY ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {fit_m}
    )""")
    parts.append(
        f"""qs AS (
      SELECT vec_id, (i - 1) // {PQ_D} AS m, (i - 1) % {PQ_D} AS il, v FROM qe
    ),
    pqinit AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM embeddings QUALIFY cid < {PQ_K}
    ),
    book0 AS (
      SELECT r.cid, s.m, s.il, s.v AS c FROM pqinit r JOIN qs s USING (vec_id)
    )"""
    )
    if fit_m is not None:
        parts.append("""pqqsf AS (SELECT q.* FROM qs q JOIN pqfit USING (vec_id))""")
    for r in range(1, iters + 1):
        parts.append(f"""pd{r} AS (
      SELECT s.vec_id, s.m, b.cid, CAST(SUM((s.v - b.c) * (s.v - b.c)) AS BIGINT) AS d
      FROM {fit_src} s JOIN book{r - 1} b ON b.m = s.m AND b.il = s.il
      GROUP BY 1, 2, 3
    ),
    pa{r} AS (
      SELECT vec_id, m, cid FROM pd{r}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) = 1
    ),
    pu{r} AS (
      SELECT a.cid, s.m, s.il, CAST(SUM(s.v) AS BIGINT) AS sv, COUNT(*) AS n
      FROM pa{r} a JOIN {fit_src} s ON s.vec_id = a.vec_id AND s.m = a.m
      GROUP BY 1, 2, 3
    ),
    book{r} AS (
      SELECT b.cid, b.m, b.il, COALESCE(u.sv // u.n, b.c) AS c
      FROM book{r - 1} b
      LEFT JOIN pu{r} u ON u.cid = b.cid AND u.m = b.m AND u.il = b.il
    )""")
    parts.append(f"""pdf AS (
      SELECT s.vec_id, s.m, b.cid, CAST(SUM((s.v - b.c) * (s.v - b.c)) AS BIGINT) AS d
      FROM qs s JOIN book{iters} b ON b.m = s.m AND b.il = s.il
      GROUP BY 1, 2, 3
    ),
    pqasg AS (
      SELECT vec_id, m, cid FROM pdf
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cid) = 1
    )""")
    return ",\n    ".join(parts)


@register(
    "ann_pq_adc",
    oracle=f"""
    WITH {_DUCK_QE},
    {_pq_lloyd_cte_sql(IVF_KM_ITERS, fit_m=MAX_FIT_ROWS)},
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    lut AS (
      SELECT b.m, b.cid, CAST(SUM(s.v * b.c) AS BIGINT) AS dv
      FROM book{IVF_KM_ITERS} b
      JOIN qs s ON s.m = b.m AND s.il = b.il
      JOIN qid ON s.vec_id = qid.q
      GROUP BY 1, 2
    ),
    approx AS (
      SELECT a.vec_id, CAST(SUM(l.dv) AS BIGINT) AS approx_dot
      FROM pqasg a
      JOIN lut l ON l.m = a.m AND l.cid = a.cid
      CROSS JOIN qid
      WHERE a.vec_id != qid.q
      GROUP BY 1
    ),
    shortlist AS (
      SELECT vec_id, approx_dot FROM approx
      ORDER BY approx_dot DESC, vec_id LIMIT {PQ_SHORTLIST}
    ),
    dots AS (
      SELECT s.vec_id, s.approx_dot, CAST(SUM(e.v * qq.v) AS BIGINT) AS dot
      FROM shortlist s
      JOIN qe e ON e.vec_id = s.vec_id
      JOIN qe qq ON qq.i = e.i
      JOIN qid ON qq.vec_id = qid.q
      GROUP BY 1, 2
    )
    SELECT d.vec_id, em.label, d.approx_dot,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN embeddings em ON em.vec_id = d.vec_id
    JOIN norms na ON na.vec_id = d.vec_id
    JOIN qid ON true
    JOIN norms nq ON nq.vec_id = qid.q
    ORDER BY cosine DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    doc="Product-quantization ANN with asymmetric distance computation: "
    f"the 64-dim embedding splits into {PQ_M} subspaces of {PQ_D} dims, "
    f"each with a {PQ_K}-entry codebook from the deterministic integer "
    f"Lloyd's fit ({IVF_KM_ITERS} rounds, all subspaces trained in one "
    "pass per round), so a vector compresses to 8 codes and the whole "
    "fit+encode+score pipeline now has an exact DuckDB twin (previously "
    "a rows-only recall gate over MLlib codebooks). Encoding is a pure "
    "JVM expression (argmin over literal centroid arrays — no join, no "
    "shuffle, fused into the scan stage); the query-side LUT of integer "
    "subspace dot products is exact driver math baked into the plan as "
    "literals, so ADC scoring is 8 array lookups + a BIGINT sum per row. "
    "The ADC shortlist is exact-cosine re-ranked (standard IVFPQ "
    "discipline). End-to-end: zero shuffles before the final TakeOrdered "
    "top-k.",
    tags=("similarity",),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    books = _pq_lloyd_fit(spark, sf_dir, IVF_KM_ITERS)
    emb = load(spark, sf_dir, "embeddings")
    q_row = emb.orderBy("vec_id").limit(1).select("vec_id", "embedding").collect()[0]
    q_id = q_row["vec_id"]
    qq = [math.floor(float(x) * QUANT) for x in q_row["embedding"]]
    # ADC lookup tables: LUT[m][c] = <quantized query subvector, centroid c>
    # — exact integer dot products, computed once on the driver.
    lut = [
        [
            sum(qq[m * PQ_D + i] * books[m][c][i] for i in range(PQ_D))
            for c in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    # Same projection discipline as ann_ivfpq_probe: quantize once,
    # materialize each subspace's distance array once, then argmin+LUT —
    # with literals as parsed SQL text, not py4j-built Columns.
    qv_sql = f"transform(embedding, x -> cast(floor(cast(x as double) * {QUANT}) as bigint))"
    darr = (
        emb.filter(F.col("vec_id") != q_id)
        .select("vec_id", "label", "embedding", F.expr(qv_sql).alias("qvv"))
        .select(
            "vec_id",
            "label",
            "embedding",
            *[
                F.expr(
                    _sqdist_arr_sql(f"slice(qvv, {m * PQ_D + 1}, {PQ_D})", books[m])
                ).alias(f"dm{m}")
                for m in range(PQ_M)
            ],
        )
    )
    approx_sql = " + ".join(
        f"element_at({_arr_sql(lut[m])}, cast(array_position(dm{m}, array_min(dm{m})) as int))"
        for m in range(PQ_M)
    )
    shortlist = (
        darr.select(
            "vec_id",
            "label",
            "embedding",
            F.expr(f"cast({approx_sql} as bigint)").alias("approx_dot"),
        )
        .orderBy(F.desc("approx_dot"), "vec_id")
        .limit(PQ_SHORTLIST)
    )
    # qb is the query's quantized-literal array; qa quantizes the row.
    qa_s, qb_s = _quant_s("embedding"), _arr_sql(qq)
    cos = F.expr(
        _cosine_s(_dot_s(qa_s, qb_s), _dot_s(qa_s, qa_s), _dot_s(qb_s, qb_s))
    )
    return (
        shortlist.select("vec_id", "label", "approx_dot", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the two index tiers composed — IVF cluster blocking restricts
# the scan to the probed clusters, PQ-ADC scores only those members from
# 8 codes + a literal LUT, and the shortlist is exact-cosine re-ranked.
# This is the production big-index layout (FAISS IVFPQ, by_residual=false
# flavor: codes quantize raw vectors, not residuals, so the codebooks are
# shared with ann_pq_adc and the whole fit has the same DuckDB twin).
# ---------------------------------------------------------------------------
@register(
    "ann_ivfpq_probe",
    oracle=f"""
    WITH {_DUCK_QE},
    {_lloyd_cte_sql(N_CENTROIDS, IVF_KM_ITERS, "km", fit_m=MAX_FIT_ROWS)},
    {_pq_lloyd_cte_sql(IVF_KM_ITERS, fit_m=MAX_FIT_ROWS)},
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    qdist AS (
      SELECT c.cid, CAST(SUM((q.v - c.c) * (q.v - c.c)) AS BIGINT) AS d
      FROM kmcent{IVF_KM_ITERS} c
      JOIN qe q ON q.i = c.i
      JOIN qid ON q.vec_id = qid.q
      GROUP BY c.cid
    ),
    probe AS (
      SELECT cid FROM qdist QUALIFY ROW_NUMBER() OVER (ORDER BY d, cid) <= {N_PROBE}
    ),
    lut AS (
      SELECT b.m, b.cid, CAST(SUM(s.v * b.c) AS BIGINT) AS dv
      FROM book{IVF_KM_ITERS} b
      JOIN qs s ON s.m = b.m AND s.il = b.il
      JOIN qid ON s.vec_id = qid.q
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT a.vec_id, a.cid FROM kmasg a JOIN probe USING (cid), qid
      WHERE a.vec_id != qid.q
    ),
    approx AS (
      SELECT c.vec_id, c.cid, CAST(SUM(l.dv) AS BIGINT) AS approx_dot
      FROM cand c
      JOIN pqasg p ON p.vec_id = c.vec_id
      JOIN lut l ON l.m = p.m AND l.cid = p.cid
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT vec_id, cid, approx_dot FROM approx
      ORDER BY approx_dot DESC, vec_id LIMIT {PQ_SHORTLIST}
    ),
    dots AS (
      SELECT s.vec_id, s.cid, s.approx_dot, CAST(SUM(e.v * qq.v) AS BIGINT) AS dot
      FROM shortlist s
      JOIN qe e ON e.vec_id = s.vec_id
      JOIN qe qq ON qq.i = e.i
      JOIN qid ON qq.vec_id = qid.q
      GROUP BY 1, 2, 3
    )
    SELECT d.vec_id, em.label, d.cid, d.approx_dot,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN embeddings em ON em.vec_id = d.vec_id
    JOIN norms na ON na.vec_id = d.vec_id
    JOIN qid ON true
    JOIN norms nq ON nq.vec_id = qid.q
    ORDER BY cosine DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    doc="IVF-PQ composed retrieval — the production big-index "
    f"architecture: {N_CENTROIDS} IVF centroids (deterministic integer "
    f"Lloyd's) block the corpus, the query probes its {N_PROBE} nearest "
    f"cells, and ONLY probed members are ADC-scored from their {PQ_M} "
    "PQ codes via the literal query LUT, then the shortlist is "
    "exact-cosine re-ranked. On Spark the whole pre-shortlist pipeline "
    "is ONE narrow scan stage: cluster id and ADC score are both "
    "literal-argmin/LUT expressions (centroids and codebooks baked into "
    "the plan), so there is no join and no shuffle before the "
    "TakeOrdered shortlist. At 100 TB this is the shape that wins: the "
    "index scan touches 8 codes + 1 cid per vector (vs 64 floats), "
    "cluster pruning drops (k - nprobe)/k of rows at the scan filter, "
    "and exact re-rank reads full vectors for only PQ_SHORTLIST rows. "
    "Codes quantize raw vectors (FAISS by_residual=false), sharing "
    "codebooks — and the DuckDB twin — with ann_pq_adc.",
    tags=("similarity",),
)
def ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One sample collect shared by both fits (identical md5 ranking).
    sample = _fit_sample_rows(spark, sf_dir, max(N_CENTROIDS, PQ_K), 1.0, MAX_FIT_ROWS)
    cents = _lloyd_fit_ints(spark, sf_dir, N_CENTROIDS, IVF_KM_ITERS, sample_rows=sample)
    books = _pq_lloyd_fit(spark, sf_dir, IVF_KM_ITERS, sample_rows=sample)
    return _ivfpq_topk(spark, sf_dir, cents, books, N_PROBE, PQ_SHORTLIST)


def _ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    cents: list[list[int]],
    books: list[list[list[int]]],
    nprobe: int,
    shortlist_n: int,
) -> DataFrame:
    """The IVF-PQ retrieval core with its two production tuning knobs
    (nprobe, shortlist) as parameters — ann_ivfpq_probe runs the
    registered default config; ann_ivfpq_recall sweeps the knobs to
    record the recall-vs-scan-cost curve (r4 verdict #6)."""
    emb, q_id, qq, probe = _ann_query_prep(spark, sf_dir, cents, nprobe)
    # The ADC LUT is O(m*k*d) driver math over exact ints.
    lut = [
        [
            sum(qq[m * PQ_D + i] * books[m][c][i] for i in range(PQ_D))
            for c in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    # r9: the whole pre-shortlist pipeline (coarse argmin + 8 subspace
    # argmins + LUT sum + the exact query cosine) is ONE Arrow kernel
    # pass (_ann_scan_vectorized) — still join-free and exchange-free
    # before the TakeOrdered shortlist, and collect-identical to the r8
    # interpreted-expression form (the kernel computes the exact cosine
    # for every probed row; the shortlist cut then re-ranks the same
    # values the expression form computed post-cut).
    scanned = _ann_scan_vectorized(
        emb, cents, qq, q_id, probe, books=books, lut=lut
    )
    return (
        scanned.orderBy(F.desc("approx_dot"), "vec_id")
        .limit(shortlist_n)
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


# The recall-vs-cost curve configs: (nprobe, shortlist).  First entry is
# the registered ann_ivfpq_probe default; the sweep shows what each knob
# buys — exactly the two dials production tunes on a real IVF-PQ index
# (r4 verdict #6 asked for the curve and a >= 0.7-recall point).
IVFPQ_CONFIGS: tuple[tuple[int, int], ...] = ((N_PROBE, PQ_SHORTLIST), (4, 100), (8, 200))


@register(
    "ann_ivfpq_recall",
    oracle="__DEFERRED_IVFPQ_RECALL__",
    doc=f"Recall@{TOP_K} of the composed IVF-PQ tier vs the exact "
    "brute-force top-k, swept over the two production tuning knobs "
    f"(nprobe, shortlist) = {IVFPQ_CONFIGS}: one row per config with "
    "scan_frac (= nprobe/k, the fraction of the corpus ADC-scored — the "
    "index scan-cost multiple) alongside the recall. The curve "
    "quantifies what the double approximation (cluster pruning + 8-code "
    "ADC) costs and what raising each knob buys back; the codebook fit "
    "runs ONCE and is shared across configs. Same eval discipline as "
    "ann_ivf_recall / ann_hamming_recall — all result sets are "
    "deterministic, so the overlaps are exact.",
    tags=("similarity", "eval"),
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = _fit_sample_rows(spark, sf_dir, max(N_CENTROIDS, PQ_K), 1.0, MAX_FIT_ROWS)
    cents = _lloyd_fit_ints(spark, sf_dir, N_CENTROIDS, IVF_KM_ITERS, sample_rows=sample)
    books = _pq_lloyd_fit(spark, sf_dir, IVF_KM_ITERS, sample_rows=sample)
    exact = ann_topk_bruteforce(spark, sf_dir).select("vec_id")
    out = None
    for nprobe, sl in IVFPQ_CONFIGS:
        top = _ivfpq_topk(spark, sf_dir, cents, books, nprobe, sl).select("vec_id")
        row = (
            exact.join(top, "vec_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
                (F.count(F.lit(1)).cast("double") / F.lit(float(TOP_K))).alias(
                    "recall"
                ),
            )
            .select(
                F.lit(nprobe).cast("bigint").alias("nprobe"),
                F.lit(sl).cast("bigint").alias("shortlist"),
                F.lit(float(nprobe) / float(N_CENTROIDS)).alias("scan_frac"),
                "n_overlap",
                "recall",
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("nprobe", "shortlist")


def _ivfpq_config_ctes(i: int, nprobe: int, shortlist_n: int) -> str:
    """Per-config CTE chain for the recall-curve oracle — shares the fit
    CTEs (kmcent/kmasg/pqasg), qdist, and lut with every other config."""
    return f"""probe{i} AS (
      SELECT cid FROM qdist QUALIFY ROW_NUMBER() OVER (ORDER BY d, cid) <= {nprobe}
    ),
    cand{i} AS (
      SELECT a.vec_id FROM kmasg a JOIN probe{i} USING (cid), qid
      WHERE a.vec_id != qid.q
    ),
    approx{i} AS (
      SELECT c.vec_id, CAST(SUM(l.dv) AS BIGINT) AS approx_dot
      FROM cand{i} c
      JOIN pqasg p ON p.vec_id = c.vec_id
      JOIN lut l ON l.m = p.m AND l.cid = p.cid
      GROUP BY 1
    ),
    short{i} AS (
      SELECT vec_id FROM approx{i} ORDER BY approx_dot DESC, vec_id LIMIT {shortlist_n}
    ),
    dots{i} AS (
      SELECT s.vec_id, CAST(SUM(e.v * qq.v) AS BIGINT) AS dot
      FROM short{i} s
      JOIN qe e ON e.vec_id = s.vec_id
      JOIN qe qq ON qq.i = e.i
      JOIN qid ON qq.vec_id = qid.q
      GROUP BY 1
    ),
    top{i} AS (
      SELECT d.vec_id
      FROM dots{i} d
      JOIN norms na ON na.vec_id = d.vec_id
      JOIN qid ON true
      JOIN norms nq ON nq.vec_id = qid.q
      ORDER BY CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) DESC, d.vec_id
      LIMIT {TOP_K}
    ),
    r{i} AS (
      SELECT CAST({nprobe} AS BIGINT) AS nprobe,
             CAST({shortlist_n} AS BIGINT) AS shortlist,
             CAST({nprobe} AS DOUBLE) / CAST({N_CENTROIDS} AS DOUBLE) AS scan_frac,
             CAST(COUNT(*) AS BIGINT) AS n_overlap,
             CAST(COUNT(*) AS DOUBLE) / {TOP_K} AS recall
      FROM exact_top e JOIN top{i} t ON t.vec_id = e.vec_id
    )"""


def _assemble_ivfpq_recall_oracle() -> None:
    from osm2orc_spark.registry import REGISTRY

    exact_sql = REGISTRY["ann_topk_bruteforce"].oracle
    config_blocks = ",\n    ".join(
        _ivfpq_config_ctes(i, np_, sl) for i, (np_, sl) in enumerate(IVFPQ_CONFIGS)
    )
    union = " UNION ALL ".join(
        f"SELECT * FROM r{i}" for i in range(len(IVFPQ_CONFIGS))
    )
    REGISTRY["ann_ivfpq_recall"].oracle = f"""
    WITH {_DUCK_QE},
    {_lloyd_cte_sql(N_CENTROIDS, IVF_KM_ITERS, "km", fit_m=MAX_FIT_ROWS)},
    {_pq_lloyd_cte_sql(IVF_KM_ITERS, fit_m=MAX_FIT_ROWS)},
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    qdist AS (
      SELECT c.cid, CAST(SUM((q.v - c.c) * (q.v - c.c)) AS BIGINT) AS d
      FROM kmcent{IVF_KM_ITERS} c
      JOIN qe q ON q.i = c.i
      JOIN qid ON q.vec_id = qid.q
      GROUP BY c.cid
    ),
    lut AS (
      SELECT b.m, b.cid, CAST(SUM(s.v * b.c) AS BIGINT) AS dv
      FROM book{IVF_KM_ITERS} b
      JOIN qs s ON s.m = b.m AND s.il = b.il
      JOIN qid ON s.vec_id = qid.q
      GROUP BY 1, 2
    ),
    exact_top AS ({exact_sql}),
    {config_blocks}
    SELECT * FROM ({union}) ORDER BY nprobe, shortlist
    """


_assemble_ivfpq_recall_oracle()


# ---------------------------------------------------------------------------
# Matryoshka / prefix-dimension ANN: score the corpus on the first
# MRL_DIMS dimensions only (4x less arithmetic and -- with a truncated
# column laid out separately -- 4x less I/O), shortlist, then re-rank the
# shortlist with exact full-dimension cosine. The standard cheap-prefilter
# retrieval shape for MRL-style embeddings.
# ---------------------------------------------------------------------------
MRL_DIMS = 16
MRL_SHORTLIST = 50


@register(
    "ann_matryoshka_rerank",
    oracle=f"""
    WITH {_DUCK_QE},
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    qe16 AS (SELECT vec_id, i, v FROM qe WHERE i <= {MRL_DIMS}),
    norms16 AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS n2 FROM qe16 GROUP BY vec_id),
    predots AS (
      SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe16 a JOIN qe16 b ON a.i = b.i, qid
      WHERE b.vec_id = qid.q AND a.vec_id != qid.q
      GROUP BY a.vec_id
    ),
    shortlist AS (
      SELECT p.vec_id,
             CAST(p.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS pre_cosine
      FROM predots p
      JOIN norms16 na ON na.vec_id = p.vec_id
      JOIN norms16 nq ON nq.vec_id = (SELECT q FROM qid)
      ORDER BY pre_cosine DESC, p.vec_id
      LIMIT {MRL_SHORTLIST}
    ),
    dots AS (
      SELECT a.vec_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN shortlist s ON s.vec_id = a.vec_id
      JOIN qe b ON b.i = a.i, qid
      WHERE b.vec_id = qid.q
      GROUP BY a.vec_id
    )
    SELECT d.vec_id, e.label,
           CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
    FROM dots d
    JOIN embeddings e ON e.vec_id = d.vec_id
    JOIN norms na ON na.vec_id = d.vec_id
    JOIN norms nq ON nq.vec_id = (SELECT q FROM qid)
    ORDER BY cosine DESC, d.vec_id
    LIMIT {TOP_K}
    """,
    doc=f"Matryoshka prefix-dimension ANN: corpus scored on the first "
    f"{MRL_DIMS} of {RP_DIM} dims (integer-exact prefix cosine), "
    f"TakeOrdered shortlist of {MRL_SHORTLIST}, exact full-dim re-rank to "
    f"top-{TOP_K}. Plan: one narrow corpus map + two tiny TakeOrdereds -- "
    "no shuffle touches full vectors until the 50-row shortlist. At scale "
    "the prefix lives in its own parquet column (column pruning makes the "
    "first pass read 1/4 of the bytes); recall follows MRL embedding "
    "quality rather than bucketing luck.",
    tags=("similarity",),
)
def ann_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    pre_cos = _cosine_expr(
        f"slice(embedding, 1, {MRL_DIMS})", f"slice(q_emb, 1, {MRL_DIMS})"
    )
    shortlist = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "label",
            "embedding",
            "q_emb",
            pre_cos.alias("pre_cosine"),
        )
        .orderBy(F.desc("pre_cosine"), "vec_id")
        .limit(MRL_SHORTLIST)
    )
    return (
        shortlist.select(
            "vec_id",
            "label",
            _cosine_expr("embedding", "q_emb").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# ANN evaluation: recall@k of the IVF probe against the exact brute-force
# top-k -- the metric that decides nprobe/centroid-count trade-offs
# before committing an index config to a 100 TB corpus.
# ---------------------------------------------------------------------------
@register(
    "ann_ivf_recall",
    oracle="__DEFERRED_ANN_RECALL__",
    doc=f"Recall@{TOP_K} of ann_ivf_probe vs ann_topk_bruteforce for the "
    "same query: both result sets are deterministic (total-order "
    "tie-breaks), so the overlap count is exact. Composed lazily from "
    "the two registered pipelines -- Spark joins the two 10-row results "
    "(both TakeOrdered shortlists), the oracle embeds both SQL twins as "
    "CTEs. The pattern generalizes to sweeping nprobe: rerun the probe "
    "side per config against one cached exact set.",
    tags=("similarity", "eval"),
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ann_topk_bruteforce(spark, sf_dir).select("vec_id")
    probe = ann_ivf_probe(spark, sf_dir).select("vec_id")
    return exact.join(probe, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / F.lit(float(TOP_K))).alias("recall"),
    )


def _assemble_ann_recall_oracle() -> None:
    from osm2orc_spark.registry import REGISTRY

    exact_sql = REGISTRY["ann_topk_bruteforce"].oracle
    probe_sql = REGISTRY["ann_ivf_probe"].oracle
    REGISTRY["ann_ivf_recall"].oracle = f"""
    WITH exact_top AS ({exact_sql}),
    probe_top AS ({probe_sql})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / {TOP_K} AS recall
    FROM exact_top e JOIN probe_top p ON p.vec_id = e.vec_id
    """


_assemble_ann_recall_oracle()


# ---------------------------------------------------------------------------
# IVF index health: per-cluster population and assignment-quality stats
# -- the report that decides whether a centroid set is balanced enough
# to ship (empty or mega clusters ruin probe recall/latency). Cosines
# are quantized floor(cos * 1e6) -> BIGINT before the SUM so the
# aggregate is order-independent (raw double sums are not).
# ---------------------------------------------------------------------------
@register(
    "ann_ivf_index_stats",
    oracle=f"""
    WITH {_DUCK_QE},
    cdot AS (
      SELECT a.vec_id, b.vec_id AS cid, CAST(SUM(a.v * b.v) AS BIGINT) AS dot
      FROM qe a JOIN qe b ON a.i = b.i
      WHERE b.vec_id < {N_CENTROIDS}
      GROUP BY 1, 2
    ),
    ccos AS (
      SELECT c.vec_id, c.cid,
             CAST(c.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos
      FROM cdot c
      JOIN norms na ON na.vec_id = c.vec_id
      JOIN norms nc ON nc.vec_id = c.cid
    ),
    assign AS (
      SELECT vec_id, cid, CAST(floor(cos * {QUANT}) AS BIGINT) AS cos_q6
      FROM ccos
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1
    )
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(cos_q6) AS BIGINT) AS min_cos_q6,
           CAST(MAX(cos_q6) AS BIGINT) AS max_cos_q6,
           CAST(SUM(cos_q6) AS DOUBLE) / COUNT(*) AS avg_cos_q6
    FROM assign
    GROUP BY cid
    """,
    doc="IVF index-health stats: every vector's best-centroid assignment "
    "(the same broadcast cross join + per-vector argmax as "
    "ann_ivf_probe), then one groupBy(cid) with population and "
    "quantized-cosine min/max/avg. Skewed n_vectors across cids predicts "
    "hot-probe latency; low avg assignment cosine predicts recall loss. "
    "The cosine is quantized to BIGINT before summing so the average is "
    "order-independent across any partitioning.",
    tags=("similarity", "eval"),
)
def ann_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    ccos = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        _cosine_expr("embedding", "c_emb").alias("cos"),
    )
    # Same max_by rewrite as ann_ivf_probe (r7 verdict #6): one partial
    # row per vector per task instead of an n x k window shuffle; the
    # winning row's cos travels inside the struct payload.
    assign = ccos.groupBy("vec_id").agg(
        F.max_by(
            F.struct("cid", "cos"), F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))
        ).alias("b")
    ).select(
        "vec_id",
        F.col("b.cid").alias("cid"),
        F.floor(F.col("b.cos") * QUANT).cast("bigint").alias("cos_q6"),
    )
    return assign.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.min("cos_q6").cast("bigint").alias("min_cos_q6"),
        F.max("cos_q6").cast("bigint").alias("max_cos_q6"),
        (F.sum("cos_q6").cast("double") / F.count(F.lit(1))).alias("avg_cos_q6"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic near-duplicate pruning via k-means cluster blocking.
# ---------------------------------------------------------------------------
SEMDEDUP_COS = 0.4  # same near-dup bar as embedding_near_dup_pairs


@register(
    "dedup_semantic_kmeans",
    oracle=f"""
    WITH {_DUCK_QE},
    {_lloyd_cte_sql(N_CENTROIDS, IVF_KM_ITERS, "sd", fit_m=MAX_FIT_ROWS)},
    pairs AS (
      SELECT a.vec_id AS vid, b.vec_id AS nbr, a.cid,
             CAST(SUM(ea.v * eb.v) AS BIGINT) AS dot
      FROM sdasg a
      JOIN sdasg b ON b.cid = a.cid AND b.vec_id < a.vec_id
      JOIN qe ea ON ea.vec_id = a.vec_id
      JOIN qe eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
      GROUP BY 1, 2, 3
    ),
    near AS (
      SELECT p.vid, p.nbr
      FROM pairs p
      JOIN norms na ON na.vec_id = p.vid
      JOIN norms nb ON nb.vec_id = p.nbr
      WHERE CAST(p.dot AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
            >= {SEMDEDUP_COS}
    ),
    drops AS (SELECT vid, MIN(nbr) AS keeper_id FROM near GROUP BY vid)
    SELECT a.vec_id, a.cid, d.keeper_id, (d.keeper_id IS NULL) AS kept
    FROM sdasg a LEFT JOIN drops d ON d.vid = a.vec_id
    ORDER BY a.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023): prune semantic near-duplicates by "
    "clustering embeddings (the deterministic integer Lloyd's fit shared "
    "with ann_ivf_kmeans) and comparing pairs ONLY within a cluster — "
    "O(sum nc^2) instead of the O(n^2) crossJoin of "
    "embedding_near_dup_pairs. Greedy keep-lowest-id: a vector is dropped "
    "iff a lower-id cluster-mate has cosine >= threshold; keeper_id "
    "records the smallest such neighbor. At 100 TB, k grows with the "
    "corpus (fit on a sample, cluster size stays ~constant), so the "
    "within-cluster self-join stays bounded per key and the cid shuffle "
    "has enough distinct keys to spread; this is the published SemDeDup "
    "recipe and the standard scale path for embedding dedup.",
    tags=("dedup", "similarity"),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm2orc_spark.operators import switches

    # r9 strategy switch (the r8-verdict banding precedent, found by the
    # same XL methodology): with FIXED k=8 the in-cluster self-join is
    # Theta(n^2/8) — measured 4.0e10 join rows at 800k vectors
    # (`semantic_kmeans_saturation` in SCALING_SKEW.jsonl), the same
    # DNF class as the r8 LSH banding.  SemDeDup's own recipe is
    # clusters PROPORTIONAL to corpus size; above the bounded-fit
    # sample size the query scales k so the mean cluster stays
    # ~SEMDEDUP_TARGET_CLUSTER and the join is ~n*target/2 rows —
    # linear in n.  Below the threshold (both gate SFs) the plan is
    # byte-identical to r8.
    n = switches.table_rows(spark, sf_dir, "embeddings")
    if n > SEMDEDUP_KSCALE_MIN_VECTORS:
        return _semantic_kmeans_kscaled(spark, sf_dir, n)
    cents = _lloyd_fit_ints(spark, sf_dir, N_CENTROIDS, IVF_KM_ITERS)
    emb = load(spark, sf_dir, "embeddings")
    qe = emb.select("vec_id", F.expr(_quant_s("embedding")).alias("qv"))
    # Distance array in its own projection (evaluated once, argmin reads
    # it twice), literals as parsed SQL text.  NOT persisted: the r5
    # measurement showed caching the wide qv frame COSTS more than it
    # saves (4.7s cached vs 3.5-4.2s uncached at sf0.1) — the self-join's
    # two sides share one exchange via ReusedExchange regardless, and the
    # third read is a narrow scan + literal argmin that recomputes faster
    # than the cache round-trips 64-element arrays.  This also closes the
    # r4-advice cache leak (the persist was never released).
    asg = (
        qe.select("vec_id", "qv", F.expr(_sqdist_arr_sql("qv", cents)).alias("dsd"))
        .select(
            "vec_id",
            "qv",
            F.expr("cast(array_position(dsd, array_min(dsd)) - 1 as int)").alias("cid"),
            _dot(F.col("qv"), F.col("qv")).alias("n2"),
        )
    )
    return _semantic_near_tail(asg)


def _semantic_near_tail(asg: DataFrame) -> DataFrame:
    """The SemDeDup keeper rule over an assignment frame (vec_id, qv,
    cid, n2): in-cluster pairs, cosine gate, keeper = min neighbor."""
    a, b = asg.alias("a"), asg.alias("b")
    near = (
        a.join(b, (F.col("a.cid") == F.col("b.cid")) & (F.col("b.vec_id") < F.col("a.vec_id")))
        .select(
            F.col("a.vec_id").alias("vid"),
            F.col("b.vec_id").alias("nbr"),
            _cosine(
                _dot(F.col("a.qv"), F.col("b.qv")), F.col("a.n2"), F.col("b.n2")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEMDEDUP_COS)
    )
    drops = near.groupBy("vid").agg(F.min("nbr").alias("keeper_id"))
    return (
        asg.select("vec_id", "cid")
        .join(drops, asg.vec_id == drops.vid, "left")
        .select(
            "vec_id",
            "cid",
            "keeper_id",
            F.col("keeper_id").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


# Above this corpus size dedup_semantic_kmeans scales its cluster count
# (k = ceil(n / SEMDEDUP_TARGET_CLUSTER)) instead of keeping the fixed
# k=8 whose in-cluster join is Theta(n^2/8).  Set to the bounded-fit
# sample size: below it the whole corpus fits the fit sample and the
# fixed-k plan is exact and cheap (both gate SFs are far below).
SEMDEDUP_KSCALE_MIN_VECTORS = MAX_FIT_ROWS
SEMDEDUP_TARGET_CLUSTER = 256


def _semantic_kmeans_kscaled(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """The scaled-k SemDeDup path: k = ceil(n / target) clusters fitted
    on the bounded sample (capped at MAX_FIT_ROWS // 4 so seeds stay a
    minority of the sample), assignment via the Arrow kernel (literal
    SQL expressions are infeasible at thousands of centroids; the
    float64 GEMM distances are EXACT — the _blocked_argmin argument),
    then the identical keeper tail.  Semantics above the threshold are
    SemDeDup's at-scale semantics: finer blocking finds near-dup pairs
    within tighter clusters (near-dups co-cluster by construction —
    that is the algorithm's premise); the keeper rule is unchanged."""
    k = min(MAX_FIT_ROWS // 4, max(N_CENTROIDS, -(-n // SEMDEDUP_TARGET_CLUSTER)))
    cents = _lloyd_fit_ints(spark, sf_dir, k, IVF_KM_ITERS)
    emb = load(spark, sf_dir, "embeddings")
    dim = len(cents[0])

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        Cf = np.array(cents, dtype=np.float64)
        cn2 = (Cf * Cf).sum(axis=1)
        # row sub-blocks keep the n_b x k distance matrix ~100 MB
        block = max(256, 8_388_608 // max(1, len(cents)))
        for b in batches:
            vec_id = b.column(b.schema.get_field_index("vec_id")).to_numpy(
                zero_copy_only=False
            )
            flat = (
                b.column(b.schema.get_field_index("embedding"))
                .flatten()
                .to_numpy(zero_copy_only=False)
            )
            Xq = (
                np.floor(flat.astype(np.float64) * QUANT)
                .astype(np.int64)
                .reshape(-1, dim)
            )
            cid = np.empty(len(Xq), dtype=np.int32)
            Xf = Xq.astype(np.float64)
            xn2 = (Xf * Xf).sum(axis=1)
            for s in range(0, len(Xq), block):
                e = s + block
                d = xn2[s:e, None] - 2.0 * (Xf[s:e] @ Cf.T) + cn2[None, :]
                cid[s:e] = d.argmin(axis=1)
            n2 = (Xq * Xq).sum(axis=1)
            offsets = pa.array(
                (np.arange(len(Xq) + 1) * dim).astype(np.int32), type=pa.int32()
            )
            qv = pa.ListArray.from_arrays(offsets, pa.array(Xq.reshape(-1)))
            yield pa.RecordBatch.from_arrays(
                [pa.array(vec_id), qv, pa.array(cid), pa.array(n2)],
                names=["vec_id", "qv", "cid", "n2"],
            )

    asg = emb.select("vec_id", "embedding").mapInArrow(
        kernel, "vec_id long, qv array<bigint>, cid int, n2 bigint"
    )
    return _semantic_near_tail(asg)


# ---------------------------------------------------------------------------
# Prototype-distance data pruning (Sorscher et al. 2022, "Beyond neural
# scaling laws"): rank every embedding by its cosine to its class
# prototype (the per-label centroid) and mark the most prototypical
# fraction for pruning — in the abundant-data regime the EASY (closest-
# to-prototype) examples are the ones worth dropping.
# ---------------------------------------------------------------------------
PRUNE_NUM, PRUNE_DEN = 1, 5  # prune the top 1/5 most-prototypical per label


@register(
    "embedding_prototype_prune",
    oracle=f"""
    WITH {_DUCK_QE},
    cent AS (
      SELECT label, i, CAST(SUM(v) // COUNT(*) AS BIGINT) AS c
      FROM qe GROUP BY label, i
    ),
    cnorm AS (SELECT label, CAST(SUM(c*c) AS BIGINT) AS n2c FROM cent GROUP BY label),
    dots AS (
      SELECT q.vec_id, q.label, CAST(SUM(q.v * c.c) AS BIGINT) AS dot
      FROM qe q JOIN cent c ON c.label = q.label AND c.i = q.i
      GROUP BY q.vec_id, q.label
    ),
    cosr AS (
      SELECT d.vec_id, d.label,
             CAST(d.dot AS DOUBLE) /
               (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(cn.n2c AS DOUBLE))) AS cos
      FROM dots d
      JOIN norms n ON n.vec_id = d.vec_id
      JOIN cnorm cn ON cn.label = d.label
    ),
    ranked AS (
      SELECT vec_id, label,
             CAST(floor(cos * {QUANT}) AS BIGINT) AS cos_q6,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rnk,
             COUNT(*) OVER (PARTITION BY label) AS n_label
      FROM cosr
    )
    SELECT vec_id, label, cos_q6, CAST(rnk AS BIGINT) AS rnk,
           rnk * {PRUNE_DEN} <= n_label * {PRUNE_NUM} AS prune
    FROM ranked
    """,
    doc="Prototype-distance pruning: per-label centroids from the "
    "quantized-integer embeddings (elementwise SUM DIV COUNT — the same "
    "truncating arithmetic as the Lloyd's fit), cosine of every vector "
    f"to its own label's prototype, then mark the top {PRUNE_NUM}/"
    f"{PRUNE_DEN} most-prototypical per label (rank*den <= n*num — "
    "integer-exact, no double quantile). Plan shape: the centroid build "
    "is one posexplode + groupBy(label, dim) partial agg over label*dim "
    "keys (tiny output); prototypes re-assemble to arrays, BROADCAST to "
    "the corpus scan, and the scoring dot product is a JVM zip_with — "
    "no join against the exploded corpus. The exposed per-label rank is "
    "computed as a TWO-LEVEL bucket rank (r7): every row's quantized "
    "score cos_q6 is its bucket, per-(label, bucket) counts are a "
    "map-side-combinable groupBy, the exclusive running-sum of bucket "
    "counts (the rank offset) is a window over the COUNTS table — whose "
    "size is bounded by the 1e-6 quantization grid, never by the corpus "
    "— and the residual row_number partitions by (label, bucket), i.e. "
    "by exact score ties only. No corpus-sized window partition "
    "remains: a label window would put the whole majority label "
    "through one unsplittable task (labels are the same worst-case key "
    "as curation's langs), and n_label comes from the same counts "
    "via a broadcast join instead of count(*) OVER (PARTITION BY "
    "label) — the r6 shingle-df anti-pattern. All bucket keys are "
    "null-safe (r8): a zero-norm vector's NULL cosine coalesces into a "
    "sentinel bucket below the grid minimum for grouping/join/window "
    "purposes (ranked last, still counted in n_label), while the output "
    "column keeps the NULL.",
    tags=("similarity", "curation"),
)
def embedding_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_quant_s("embedding")).alias("q")
    )
    el = emb.select("vec_id", "label", F.posexplode("q").alias("i", "v"))
    cent_elems = el.groupBy("label", "i").agg(
        F.expr("CAST(SUM(v) DIV COUNT(1) AS BIGINT)").alias("c")
    )
    cent = cent_elems.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, c))), s -> s.c)"
        ).alias("cvec")
    )
    cos_sql = _cosine_s(
        _dot_s("q", "cvec"), _dot_s("q", "q"), _dot_s("cvec", "cvec")
    )
    scored = emb.join(F.broadcast(cent), "label").selectExpr(
        "vec_id",
        "label",
        f"{cos_sql} AS cos",
        f"CAST(floor({cos_sql} * {QUANT}) AS BIGINT) AS cos_q6",
    )
    # Null-safe bucket key (r7 advice): a zero-norm quantized vector
    # makes Spark's divide return NULL cos -> NULL cos_q6, and a plain
    # equi-join on cos_q6 would silently DROP that row while n_label
    # still counted it.  cos_qb coalesces NULL into a sentinel bucket
    # strictly below the grid minimum (cos >= -1 -> cos_q6 >= -QUANT, so
    # -2*QUANT can never collide); every grouping/join/window key below
    # uses cos_qb, while the OUTPUT column stays the original (possibly
    # NULL) cos_q6.  Sentinel ordering: desc(cos_qb) sorts it last —
    # exactly where desc(cos) nulls-last ranked those rows before.
    _NULL_BUCKET = -2 * QUANT
    scored = scored.withColumn(
        "cos_qb", F.coalesce(F.col("cos_q6"), F.lit(_NULL_BUCKET))
    )
    # scored feeds the bucket-count build AND the final join — persist
    # the narrow (vec_id, label, cos, cos_q6) frame or the scan +
    # centroid build + cosine subtree is planned once per consumer
    # (Catalyst does not dedup identical subtrees — the r6 house rule).
    scored = scored.persist()
    # Two-level exact rank. bucket = cos_q6 is monotone in cos, so the
    # global (cos DESC, vec_id) order equals (bucket DESC, cos DESC,
    # vec_id): rank = (#rows in strictly-higher buckets) + (rank within
    # the bucket). The offset table has one row per (label, occupied
    # bucket) — bounded by the quantization grid (2e6 buckets), NOT by
    # the corpus — so ITS per-label running-sum window can never be
    # hot, and the per-(label, bucket) residual window only sorts exact
    # 1e-6-level score ties.
    counts = scored.groupBy("label", "cos_qb").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    w_off = (
        W.partitionBy("label")
        .orderBy(F.desc("cos_qb"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # Both the exclusive running-sum (rank offset) and the label total
    # (n_label) come out of ONE pass over the bounded counts table —
    # windows over THIS table are safe precisely because its size is
    # capped by the quantization grid, not the corpus.
    offsets = counts.select(
        "label",
        "cos_qb",
        F.coalesce(F.sum("n_b").over(w_off), F.lit(0)).alias("off"),
        F.sum("n_b").over(W.partitionBy("label")).alias("n_label"),
    )
    w_local = W.partitionBy("label", "cos_qb").orderBy(F.desc("cos"), "vec_id")
    return release_with(
        scored.join(offsets, ["label", "cos_qb"])
        .withColumn(
            "rnk", (F.col("off") + F.row_number().over(w_local)).cast("bigint")
        )
        .select(
            "vec_id",
            "label",
            "cos_q6",
            "rnk",
            (F.col("rnk") * PRUNE_DEN <= F.col("n_label") * PRUNE_NUM).alias("prune"),
        ),
        scored,
    )


# ---------------------------------------------------------------------------
# Binary quantization retrieval: sign-bit embeddings packed into two
# 32-bit words, Hamming-distance shortlist, exact-cosine re-rank — the
# 32x-compression tier below int8/PQ that production vector stores ship
# for billion-scale first-pass retrieval.
# ---------------------------------------------------------------------------
BQ_SHORTLIST = 50


def _pack_word(q: str, offset: int) -> str:
    """SQL: pack sign bits of dims offset+1..offset+32 into one BIGINT."""
    return (
        f"aggregate(sequence(1, 32), 0L, (acc, i) -> "
        f"acc + IF({q}[i + {offset} - 1] >= 0, shiftleft(1L, i - 1), 0L))"
    )


@register(
    "ann_topk_hamming",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    qid AS (SELECT MIN(vec_id) AS q FROM embeddings),
    words AS (
      SELECT vec_id, label, qv,
             CAST(list_sum(list_transform(generate_series(1, 32),
                  i -> CASE WHEN qv[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS w1,
             CAST(list_sum(list_transform(generate_series(1, 32),
                  i -> CASE WHEN qv[i + 32] >= 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS w2
      FROM qv
    ),
    qw AS (SELECT w.* FROM words w, qid WHERE w.vec_id = qid.q),
    ham AS (
      SELECT w.vec_id, w.label, w.qv,
             CAST(bit_count(xor(w.w1, qw.w1)) + bit_count(xor(w.w2, qw.w2)) AS BIGINT) AS hamming
      FROM words w, qw WHERE w.vec_id <> qw.vec_id
    ),
    short AS (SELECT * FROM ham ORDER BY hamming, vec_id LIMIT {BQ_SHORTLIST}),
    rer AS (
      SELECT s.vec_id, s.label, s.hamming,
             CAST(CAST(list_sum(list_transform(generate_series(1, 64),
                    i -> s.qv[i] * qw.qv[i])) AS BIGINT) AS DOUBLE) /
               (sqrt(CAST(CAST(list_sum(list_transform(s.qv, x -> x * x)) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(qw.qv, x -> x * x)) AS BIGINT) AS DOUBLE))) AS cosine
      FROM short s, qw
    )
    SELECT vec_id, label, hamming, cosine
    FROM rer ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    """,
    doc="Binary-quantization ANN: each embedding's 64 sign bits pack into "
    "two BIGINT words (a JVM aggregate over sequence — no explode), the "
    f"query's Hamming distance is two XOR+popcount ops per row, a "
    f"{BQ_SHORTLIST}-row TakeOrdered shortlist is re-ranked by exact "
    "quantized cosine, and the final top-k is a second TakeOrdered. "
    "This is the 32x-compression first-pass tier below int8 "
    "(ann_topk_int8) and PQ (ann_pq_adc): at 100 TB the packed words "
    "are 16 bytes/vector, the scan is two registers per candidate, and "
    "only the shortlist ever touches the full vectors. Both rank "
    "stages are TakeOrdered (never a global sort); the one-row query "
    "side is broadcast.",
    tags=("similarity",),
)
def ann_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.expr(_quant_s("embedding")).alias("q")
    )
    words = emb.select(
        "vec_id",
        "label",
        "q",
        F.expr(_pack_word("q", 0)).alias("w1"),
        F.expr(_pack_word("q", 32)).alias("w2"),
    )
    qrow = (
        words.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("q").alias("q_q"),
            F.col("w1").alias("q_w1"),
            F.col("w2").alias("q_w2"),
        )
    )
    ham = (
        words.crossJoin(F.broadcast(qrow))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            "label",
            "q",
            "q_q",
            (
                F.bit_count(F.col("w1").bitwiseXOR(F.col("q_w1")))
                + F.bit_count(F.col("w2").bitwiseXOR(F.col("q_w2")))
            )
            .cast("bigint")
            .alias("hamming"),
        )
    )
    short = ham.orderBy("hamming", "vec_id").limit(BQ_SHORTLIST)
    return (
        short.select(
            "vec_id",
            "label",
            "hamming",
            _cosine(
                _dot(F.col("q"), F.col("q_q")),
                _dot(F.col("q"), F.col("q")),
                _dot(F.col("q_q"), F.col("q_q")),
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(TOP_K)
    )


@register(
    "ann_hamming_recall",
    oracle="__DEFERRED_HAMMING_RECALL__",
    doc=f"Recall@{TOP_K} of the binary-quantization pipeline "
    "(ann_topk_hamming) vs the exact brute-force top-k for the same "
    "query — the compression-quality eval that decides whether the "
    "32x-packed tier can serve first-pass retrieval. Same composition "
    "as ann_ivf_recall: both 10-row TakeOrdered results joined, the "
    "oracle embeds both registered SQL twins as CTEs.",
    tags=("similarity", "eval"),
)
def ann_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = ann_topk_bruteforce(spark, sf_dir).select("vec_id")
    ham = ann_topk_hamming(spark, sf_dir).select("vec_id")
    return exact.join(ham, "vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / F.lit(float(TOP_K))).alias("recall"),
    )


def _assemble_hamming_recall_oracle() -> None:
    from osm2orc_spark.registry import REGISTRY

    exact_sql = REGISTRY["ann_topk_bruteforce"].oracle
    ham_sql = REGISTRY["ann_topk_hamming"].oracle
    REGISTRY["ann_hamming_recall"].oracle = f"""
    WITH exact_top AS ({exact_sql}),
    ham_top AS ({ham_sql})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / {TOP_K} AS recall
    FROM exact_top e JOIN ham_top h ON h.vec_id = e.vec_id
    """


_assemble_hamming_recall_oracle()
