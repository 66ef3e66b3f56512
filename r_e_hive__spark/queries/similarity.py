"""Declared queries: embedding similarity search (SURVEY.md §2.11 X3-X4).

Exact variants use decimal-exact dot products (functions/vector.py) so the
DuckDB oracle hash-matches bit-for-bit; the LSH variant is Spark-native and
rows-only declared, with recall asserted in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from r_e_hive__spark.operators import similarity as S
from r_e_hive__spark.queries import query, retired_query
from r_e_hive__spark.queries._util import T

# DuckDB exact-decimal dot machinery (float → double → decimal(12,6) per
# element, exact decimal sum — bit-identical to the Spark formulation,
# verified in tests/test_oracle_parity.py)
_DU_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST(CAST({a}[i] AS DOUBLE) AS DECIMAL(12,6)) * CAST(CAST({b}[i] AS DOUBLE) AS DECIMAL(12,6))))"
)


def _du_cosine(a: str, b: str) -> str:
    dot = _DU_DOT.format(a=a, b=b)
    na = _DU_DOT.format(a=a, b=a)
    nb = _DU_DOT.format(a=b, b=b)
    return (
        f"ROUND(CAST({dot} AS DOUBLE) / SQRT(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE)), 6)"
    )


@retired_query(
    "x3_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 4),
    scored AS (
      SELECT q.query_id, e.vec_id, {_du_cosine('q.qvec', 'e.embedding')} AS cosine
      FROM q CROSS JOIN embeddings e
    )
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    survey_rows=("X3",),
    bench=True,
)
def x3_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-10 for a fixed query set (vec_id < 4):
    broadcast queries × candidate scan × per-query window top-k — the
    correctness baseline for ANN, and the right plan whenever the candidate
    scan dominates (100 TB: embarrassingly parallel, no shuffle until the
    tiny top-k).  RETIRED round 8 second wave (50-cap rotation for
    x14_cow_delete): X3 stays driver-pinned by x25_quantized_topk, whose
    second stage IS this exact-cosine rerank over the same fixed query
    set; the oracle keeps running in test_retired_queries.py and the
    query keeps its bench headline row (bench=True)."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    queries = embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(
        queries, embeddings, "query_id", "vec_id", "embedding", k=10, exact_decimal=True
    )


# (The label-bucket IVF placeholder query was retired in round 3: the
# learned-k-means variant below pins X3's IVF path with a stronger oracle,
# and the driver's declared surface is capped at 50 queries.  The
# ``ivf_topk`` operator itself remains exercised both here and in
# tests/test_similarity.py.)


def _cents_sql() -> str:
    from r_e_hive__spark.queries._ivf_centroids import _IVF_CENTROIDS

    rows = ",\n      ".join(
        f"({j}, [{', '.join(repr(x) for x in c)}])"
        for j, c in enumerate(_IVF_CENTROIDS)
    )
    return f"cents(idx, cvec) AS (VALUES\n      {rows})"


def _ivf_kmeans_oracle() -> str:
    score = "CAST(" + _DU_DOT.format(a="e.embedding", b="c.cvec") + " AS DOUBLE)"
    return f"""
    WITH {_cents_sql()},
    scored_c AS (
      SELECT e.vec_id, e.embedding, c.idx, {score} AS score
      FROM embeddings e CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, embedding, idx AS bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, idx DESC) AS rn
        FROM scored_c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, idx AS bucket FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, idx DESC) AS rn
        FROM scored_c WHERE vec_id < 4
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id, {_du_cosine('p.qvec', 'a.embedding')} AS cosine
      FROM probes p JOIN assign a ON a.bucket = p.bucket
    )
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """


@retired_query(
    "x3_ivf_kmeans_topk",
    _ivf_kmeans_oracle(),
    survey_rows=("X3",),
)
def x3_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k with a LEARNED k-means coarse quantizer (frozen centroids,
    _ivf_centroids.py): candidates assign to their nearest centroid, each
    query probes its 2 nearest of 8 — a 4× pruned scan.  The oracle
    recomputes the ENTIRE pipeline (decimal-exact centroid scores, argmax
    assignment, probe selection, bucket join, exact-cosine top-k) in DuckDB
    from the same frozen parameters — differential, not a snapshot.

    Honest scale note: the fixture embeddings are uniform random unit
    vectors (mean same-label fraction of true top-10 ≈ 0.10 = chance), so
    NO coarse quantizer can recall well on THIS corpus — the differential
    check pins the machinery, while recall ≥ 0.9 is asserted on a genuinely
    clustered fixture in tests/test_similarity.py."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    from r_e_hive__spark.queries._ivf_centroids import _IVF_CENTROIDS

    queries = embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_kmeans_topk(
        queries,
        embeddings,
        "query_id",
        "vec_id",
        "embedding",
        k=10,
        n_probe=2,
        exact_decimal=True,
        centroids=_IVF_CENTROIDS,
    )


def _quantized_oracle() -> str:
    """Full differential oracle for x25: replays the ENTIRE two-stage
    quantized-ANN pipeline in DuckDB — per-vector SQ8 quantization
    (scale = max|v|/127, codes = round(v/scale)), INTEGER-code cosine
    shortlist (code dots are sums of integers ≤ 2^53: exact in double in
    ANY order; the sqrt/divide/round tail is IEEE-identical given equal
    inputs), then the decimal-exact full-precision re-rank.  Operation
    order mirrors operators/similarity.py exactly: den = SQRT(qn2*cn2)
    (sqrt of product, as brute_force_topk's expr path), ROUND(..., 6)
    before ranking, NULL cosines dropped before the window."""
    code_dot = (
        "list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"
    )
    return f"""
    WITH scaled AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))/127.0 AS s
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CASE WHEN s > 0
               THEN round(CAST(x AS DOUBLE)/s, 0) ELSE 0.0 END) AS c
      FROM scaled
    ),
    normed AS (
      SELECT vec_id, c, {code_dot.format(a='c', b='c')} AS n2 FROM codes
    ),
    approx AS (
      SELECT q.vec_id AS query_id, e.vec_id,
             ROUND(CASE WHEN SQRT(q.n2 * e.n2) > 0
               THEN {code_dot.format(a='q.c', b='e.c')} / SQRT(q.n2 * e.n2)
             END, 6) AS qcos
      FROM (SELECT * FROM normed WHERE vec_id < 4) q CROSS JOIN normed e
    ),
    short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, vec_id) AS rn
        FROM approx WHERE qcos IS NOT NULL
      ) WHERE rn <= 40
    ),
    rerank AS (
      SELECT s.query_id, s.vec_id,
             {_du_cosine('q.embedding', 'e.embedding')} AS cosine
      FROM short s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id
    )
    SELECT query_id, rank, vec_id, cosine FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rank
      FROM rerank WHERE cosine IS NOT NULL
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """


@query(
    "x25_quantized_topk",
    _quantized_oracle(),
    survey_rows=("X25", "X3"),
)
def x25_quantized_topk(spark, sf_dir):
    """Two-stage quantized ANN (operators/similarity.quantized_topk): int8
    SQ8 coarse scan (per-vector scales cancel in cosine, so scoring is the
    INTEGER cosine of the code arrays — 4× less IO at 100 TB) shortlists
    4×k candidates per query; the full-precision decimal-exact re-rank
    orders the final top-10.  The oracle replays quantization, integer
    shortlist, and re-rank wholesale — differential, not a snapshot.
    Recall vs exact brute force is pinned separately
    (tests/test_quantization.py, recall@10 = 1.0 at mult=4)."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    queries_df = embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.quantized_topk(
        queries_df,
        embeddings,
        "query_id",
        "vec_id",
        "embedding",
        k=10,
        shortlist_mult=4,
        rerank=True,
        strategy="expr",
        exact_decimal=True,
    )


# Retired from the declared surface in round 5 (50-query cap; see the
# ledger in queries/__init__.py): X4's exact all-pairs baseline is now
# pinned by x4_lsh_neighbor_pairs (same verify path) and x17_semdedup
# (exact in-cluster cosine pairing).  Differential kept green by
# tests/test_retired_queries.py; also the LSH recall baseline in
# tests/test_similarity.py.
@retired_query(
    "x4_neardup_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_du_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_du_cosine('a.embedding', 'b.embedding')} >= 0.30
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 100
    """,
    survey_rows=("X4", "X2"),
)
def x4_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup self-join (threshold 0.30, top-100):
    the exact all-pairs baseline; the LSH-banded variant
    (lsh_neighbor_pairs) covers the sub-quadratic path."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    from r_e_hive__spark.functions import vector as V

    units = F.expr(V.units_arr_sql("embedding"))
    a = embeddings.select(F.col("vec_id").alias("id_a"), units.alias("_ua"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), units.alias("_ub"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(F.expr(V.cosine_units_sql("_ua", "_ub")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.30)
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(100)
    )


def _lsh_oracle() -> str:
    """Full differential oracle for the hyperplane-LSH pair query.

    Recomputes the ENTIRE pipeline in DuckDB from the same frozen quantized
    planes (queries/_lsh_planes.py): decimal-exact sign projections →
    16-bit bucket → 4×4-bit band chunks → candidate equi-join → exact-
    cosine verification.  Every arithmetic step is exact (decimal×integer),
    so bucket assignment — the only part a float formulation could get
    wrong at a sign boundary — is bit-identical across engines."""
    from r_e_hive__spark.queries._lsh_planes import _LSH_PLANES

    rows = ",\n      ".join(
        f"({p}, {list(c)!r})".replace("'", "") for p, c in enumerate(_LSH_PLANES)
    )
    cos = _du_cosine("ea.embedding", "eb.embedding")
    return f"""
    WITH planes(p, coeffs) AS (VALUES
      {rows}),
    proj AS (
      SELECT e.vec_id, pl.p,
             list_sum(list_transform(range(1, 65), i ->
               CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(12,6)) * pl.coeffs[i])) AS proj
      FROM embeddings e CROSS JOIN planes pl
    ),
    bucket AS (
      SELECT vec_id,
             SUM(CASE WHEN proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id
    ),
    chunks AS (
      SELECT b.vec_id, t.band_id, (CAST(b.bucket AS BIGINT) >> (4 * t.band_id)) & 15 AS chunk
      FROM bucket b CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(band_id)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM chunks a JOIN chunks b ON a.band_id = b.band_id AND a.chunk = b.chunk
                                  AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {cos} AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {cos} >= 0.30
    ORDER BY cosine DESC, id_a, id_b
    LIMIT 100
    """


@query(
    "x4_lsh_neighbor_pairs",
    _lsh_oracle(),
    survey_rows=("X4",),
    doc="Hyperplane-LSH banded near-neighbor pairs, exact-cosine verified.",
)
def x4_lsh_neighbor_pairs(spark, sf_dir):
    """Random-hyperplane LSH self-join (16 frozen quantized planes, 4
    bands) verified with exact cosine ≥ 0.30 — recall vs x4_neardup_pairs
    asserted in tests/test_similarity.py.

    Differential, not rows-only: the DuckDB oracle (_lsh_oracle) replays
    bucketing, banding, candidate join, and verification from the same
    frozen planes in exact decimal arithmetic — the statement checked is
    "the sub-quadratic path produces exactly these pairs", not merely "it
    produces 100 rows"."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    from r_e_hive__spark.queries._lsh_planes import _LSH_PLANES

    return (
        S.lsh_neighbor_pairs(
            embeddings,
            "vec_id",
            "embedding",
            dim=64,
            n_planes=16,
            bands=4,
            cosine_threshold=0.30,
            exact_decimal=True,
            planes=_LSH_PLANES,
        )
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(100)
    )


def _semdedup_oracle(tau: float) -> str:
    """Full differential for SemDeDup: DuckDB replays centroid assignment
    (decimal-exact scores, argmax with the idx-DESC tie-break), the
    within-cluster lower-id near-neighbor test, and the anti-join."""
    score = "CAST(" + _DU_DOT.format(a="e.embedding", b="c.cvec") + " AS DOUBLE)"
    cos = _du_cosine("a.embedding", "b.embedding")
    return f"""
    WITH {_cents_sql()},
    scored_c AS (
      SELECT e.vec_id, e.embedding, c.idx, {score} AS score
      FROM embeddings e CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, embedding, idx AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, idx DESC) AS rn
        FROM scored_c
      ) WHERE rn = 1
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {cos} >= {tau}
    )
    SELECT s.vec_id, s.cluster
    FROM assign s LEFT JOIN dups d ON d.vec_id = s.vec_id
    WHERE d.vec_id IS NULL
    ORDER BY s.vec_id
    """


_SEMDEDUP_TAU = 0.25


@query(
    "x17_semdedup",
    _semdedup_oracle(_SEMDEDUP_TAU),
    survey_rows=("X17", "X2", "X4"),
)
def x17_semdedup(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al. 2023): assign every
    embedding to its nearest frozen k-means centroid, drop rows with a
    lower-id near-duplicate (cosine >= 0.25) in the SAME cluster, return
    survivors + cluster id.  All-pairs work stays inside clusters — the
    sub-quadratic structure that makes embedding dedup feasible at 100 TB.
    The DuckDB oracle replays assignment, pairing, and anti-join from the
    same frozen centroids in exact decimal arithmetic."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    from r_e_hive__spark.queries._ivf_centroids import _IVF_CENTROIDS

    return (
        S.semantic_dedup(
            embeddings.select("vec_id", "embedding"),
            "vec_id",
            "embedding",
            centroids=_IVF_CENTROIDS,
            cosine_threshold=_SEMDEDUP_TAU,
            exact_decimal=True,
        )
        .select("vec_id", F.col("_sd_cluster").alias("cluster"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# X29 — distributed spherical k-means (declared round 9; VERDICT r8 item 3:
# the exact_decimal Lloyd replay landed in tests/test_kmeans.py round 8,
# promoted to a driver pin this rotation)
# ---------------------------------------------------------------------------

_X29_K, _X29_ITERS, _X29_DIM = 4, 2, 64


def _x29_oracle() -> str:
    """Two FULLY UNROLLED Lloyd iterations in one DuckDB statement — the
    tests/test_kmeans.py replay flattened into a single WITH chain:
    decimal(12,6) dot-product assignment with ties to the LARGER bucket,
    exact decimal per-dim update sums, nearest-double mean, 6-dp HALF_UP
    centroid quantization, decimal-exact norm², double sqrt/divide, and
    the emptied-cluster keep-previous fallback (COALESCE against the
    prior iterate)."""
    k, dim = _X29_K, _X29_DIM
    parts = [
        f"""ed AS (
      SELECT vec_id, d.d AS dim,
             CAST(CAST(embedding[d.d] AS DOUBLE) AS DECIMAL(12,6)) AS xd
      FROM embeddings, generate_series(1, {dim}) d(d)
      WHERE embedding IS NOT NULL
    ), c0 AS (
      SELECT vec_id AS bucket, dim, CAST(xd AS DOUBLE) AS v
      FROM ed WHERE vec_id < {k}
    )"""
    ]
    for i in range(1, _X29_ITERS + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, bucket FROM (
        SELECT ed.vec_id, c.bucket,
               ROW_NUMBER() OVER (
                 PARTITION BY ed.vec_id
                 ORDER BY CAST(SUM(ed.xd * CAST(c.v AS DECIMAL(12,6))) AS DOUBLE) DESC,
                          c.bucket DESC) AS rn
        FROM ed JOIN {prev} c USING (dim)
        GROUP BY ed.vec_id, c.bucket
      ) WHERE rn = 1
    ), mq{i} AS (
      SELECT a.bucket, ed.dim,
             CAST(CAST(SUM(ed.xd) AS DOUBLE) / COUNT(*) AS DECIMAL(12,6)) AS m
      FROM a{i} a JOIN ed USING (vec_id)
      GROUP BY a.bucket, ed.dim
    ), nrm{i} AS (
      SELECT bucket, SQRT(CAST(SUM(m * m) AS DOUBLE)) AS nrm
      FROM mq{i} GROUP BY bucket
    ), upd{i} AS (
      SELECT mq.bucket, mq.dim,
             CAST(CAST(CAST(mq.m AS DOUBLE) / nrm.nrm AS DECIMAL(12,6)) AS DOUBLE) AS v
      FROM mq{i} mq JOIN nrm{i} nrm USING (bucket) WHERE nrm.nrm > 0
    ), c{i} AS (
      SELECT c.bucket, c.dim, COALESCE(u.v, c.v) AS v
      FROM {prev} c LEFT JOIN upd{i} u ON u.bucket = c.bucket AND u.dim = c.dim
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(dim AS BIGINT) AS dim, v
    FROM c{_X29_ITERS} ORDER BY bucket, dim
    """
    )


@query(
    "x29_kmeans",
    _x29_oracle(),
    survey_rows=("X29",),
)
def x29_kmeans(spark, sf_dir):
    """X29 distributed spherical k-means — operators/similarity.
    train_kmeans in exact_decimal mode: per iteration, assignment is a
    map-only pass (centroids travel as literal expressions — broadcast
    parameters), the update is ONE map-side-combined groupBy(bucket)
    producing k×(dim+1) numbers, and every centroid iterate quantizes to
    6-dp HALF_UP decimals so the whole Lloyd recursion is a pure function
    of the data with no float-reduction order anywhere.  Init = the first
    k embeddings quantized to 6 dp (replayable from raw).  The oracle
    re-derives both iterations from scratch — assignment, mean, norm,
    re-normalization, empty-cluster fallback — coordinate for coordinate;
    the returned frame is the final k×dim centroid matrix (parameter-
    sized: collecting it is collecting the MODEL, not data — per-
    iteration cost at 100 TB is one corpus scan + a k-row shuffle)."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    # mirror the oracle's ed CTE exactly: NULL embeddings drop BEFORE the
    # vec_id < k slice (round-9 review) — bucket labels stay the surviving
    # vec_ids, and n_clusters follows the survivor count, so a NULL seed
    # row shrinks both engines' results identically instead of crashing
    # one side
    init_rows = (
        embeddings.where(
            (F.col("vec_id") < _X29_K) & F.col("embedding").isNotNull()
        )
        .orderBy("vec_id")
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: x.cast("double").cast("decimal(12,6)").cast("double"),
            ).alias("e"),
        )
        .collect()
    )
    init = [list(r["e"]) for r in init_rows]
    labels = [int(r["vec_id"]) for r in init_rows]
    cents, _ = S.train_kmeans(
        embeddings,
        n_clusters=len(init),
        n_iter=_X29_ITERS,
        tol=0.0,
        init=init,
        exact_decimal=True,
    )
    rows = [
        (labels[b], d + 1, float(v))
        for b, c in enumerate(cents)
        for d, v in enumerate(c)
    ]
    return spark.createDataFrame(
        rows, "bucket BIGINT, dim BIGINT, v DOUBLE"
    ).orderBy("bucket", "dim")
