"""Similarity-search queries over ``embeddings`` (SURVEY.md §2.10).

Float determinism: both engines compute dot products as a sequential
left-fold over float32-widened-to-float64 elements, so the raw doubles are
bit-identical; ranking uses the raw score and only the emitted score is
rounded. The oracle uses an explicit list_reduce fold (not DuckDB's native
list_dot_product) to pin the accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.similarity import (
    brute_force_topk,
    hyperplane_bucket,
    label_centroids,
    lsh_bucket_ann,
)
from .registry import query

# Sequential double dot product of DuckDB lists {a} x {b}.
_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)

_SQL_COSINE = (
    "(" + _SQL_DOT.format(a="{a}", b="{b}") + " / NULLIF(sqrt("
    + _SQL_DOT.format(a="{a}", b="{a}") + ") * sqrt("
    + _SQL_DOT.format(a="{b}", b="{b}") + "), 0))"
)

# Shared ANN-leg parameters (ADVICE r11): the recall scoreboard composes
# the same methods the registered per-leg queries gate, so the parameters
# live ONCE here and both sides read them -- a leg change cannot silently
# desync the scoreboard from the query it claims to score. The DuckDB
# oracles pin the same values in their (registered) SQL text, so any edit
# here still trips the per-leg oracle until the SQL is updated in step.
ANN_K = 5  # top-k every leg returns
ANN_QUERY_CAP = 10  # query block: vec_id < ANN_QUERY_CAP
ANN_NPROBE = 2  # IVF cells probed
PQ_M = 8  # PQ subspaces
ANN_DIM = 64  # embedding dimensionality
PQ_SHORTLIST = 50  # ADC shortlist width the exact rerank consumes


def _ann_queries(emb: DataFrame) -> DataFrame:
    """The fixed evaluation-query block every ANN leg (and the
    scoreboard) retrieves for."""
    return emb.filter(F.col("vec_id") < ANN_QUERY_CAP)


def augmented_embeddings(emb: DataFrame) -> DataFrame:
    """The near-dup test corpus BOTH near-dup queries (baseline all-pairs
    and LSH scale path), their oracles, and the recall test must share:
    base vectors plus 1.5x-scaled copies of every 20th id (positive
    scaling preserves direction, so the copies are exact directional
    dupes). One definition keeps the cross-gating honest."""
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    scaled = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.5).alias("v"),
    )
    return base.unionAll(scaled)


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         {_SQL_COSINE.format(a='q.q_vec', b='c.embedding')} AS score
  FROM embeddings c, q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, match_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 5
""",
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _ann_queries(emb), k=ANN_K)


@query(
    "ann_lsh_buckets",
    oracle=f"""
WITH planes AS (
  SELECT p, list_transform(generate_series(0, 63),
           j -> CAST((CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) AS DOUBLE) / 1000.0) AS w
  FROM generate_series(0, 7) AS t(p)
),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN {_SQL_DOT.format(a='e.embedding', b='pl.w')} >= 0 THEN '1' ELSE '0' END AS bit
  FROM embeddings e, planes pl
)
SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
FROM bits GROUP BY vec_id
""",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketing half of hyperplane-LSH ANN, correctness-gated on the
    exact bucket assignment; end-to-end ANN recall is pytest-verified
    (lsh_bucket_ann) since recall, not bucket bits, is its contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", hyperplane_bucket("embedding", n_planes=8, dim=64).alias("bucket")
    )


@query(
    "ann_ivf_cells",
    oracle=f"""
WITH cent AS (
  SELECT label, j - 1 AS dim, ROUND(AVG(CAST(embedding[j] AS DOUBLE)), 6) AS c
  FROM embeddings, generate_series(1, 64) AS t(j)
  GROUP BY label, j
),
carr AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
scored AS (
  SELECT e.vec_id, ca.label AS cell,
         {_SQL_COSINE.format(a='e.embedding', b='ca.cv')} AS score
  FROM embeddings e CROSS JOIN carr ca
),
best AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
  FROM scored
)
SELECT cell, COUNT(*) AS n_vectors FROM best WHERE rn = 1 GROUP BY cell
""",
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment, correctness-gated on per-cell
    occupancy: every vector's nearest label-centroid (6dp-rounded means,
    sequential-fold cosine -- bit-identical across engines). End-to-end
    ivf_topk recall is pytest-gated (recall, not exact ids, is its
    contract)."""
    from ..operators.similarity import ivf_assign, ivf_centroid_arrays

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroid_arrays(emb)
    return (
        emb.select(ivf_assign("embedding", cents).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
    )


@query(
    "embedding_centroids",
    oracle="""
SELECT label, j - 1 AS dim,
       ROUND(AVG(CAST(embedding[j] AS DOUBLE)), 6) AS centroid,
       COUNT(*) AS n
FROM embeddings, generate_series(1, 64) AS t(j)
GROUP BY label, j
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


# LSH near-dup pairs as reusable CTE text: shared by the pairs query and
# the semantic-dedup cluster query (whose oracle closes the pair graph
# transitively), mirroring text.py's _SQL_LSH_CTES pattern.
# plane count is CORPUS-DERIVED (the dbscan corpus-sized-grid precedent):
# npl = max(8, len(bin(n // 16))) keeps expected bucket occupancy ~16 at
# any scale -- a FIXED 8-plane grid (256 buckets) measured 2.9x at 10x
# in the r11 sweep because in-bucket candidate work grows ~n^2/2^planes.
# Integer-exact on both engines: bin()/bit_length, never a float log2.
_SQL_EMB_LSH_CTES = f"""np AS (
  SELECT GREATEST(8, LENGTH(bin(COUNT(*) // 16))) AS npl FROM embeddings
),
corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
  FROM embeddings WHERE vec_id % 20 = 0
),
planes AS (
  SELECT p, list_transform(generate_series(0, 63),
           j -> CAST((CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) AS DOUBLE) / 1000.0) AS w
  FROM (SELECT unnest(generate_series(0, npl - 1)) AS p FROM np)
),
bits AS (
  SELECT c.vec_id, pl.p,
         CASE WHEN {_SQL_DOT.format(a='c.v', b='pl.w')} >= 0 THEN '1' ELSE '0' END AS bit
  FROM corpus c, planes pl
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
  FROM bits GROUP BY vec_id
),
probes AS (
  SELECT vec_id, bucket FROM buckets
  UNION ALL
  SELECT vec_id,
         substring(bucket, 1, i - 1)
           || (CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
           || substring(bucket, i + 1) AS bucket
  FROM (SELECT vec_id, bucket, unnest(generate_series(1, npl)) AS i
        FROM buckets CROSS JOIN np)
),
cand AS (
  SELECT p.vec_id AS id_a, b.vec_id AS id_b
  FROM probes p JOIN buckets b ON p.bucket = b.bucket AND p.vec_id < b.vec_id
)"""

_SQL_EMB_LSH_SELECT = f"""SELECT cand.id_a, cand.id_b,
       ROUND({_SQL_COSINE.format(a='a.v', b='b.v')}, 6) AS score
FROM cand
JOIN corpus a ON a.vec_id = cand.id_a
JOIN corpus b ON b.vec_id = cand.id_b
WHERE {_SQL_COSINE.format(a='a.v', b='b.v')} >= 0.999"""


@query(
    "embedding_near_dup_lsh",
    oracle=f"""
WITH {_SQL_EMB_LSH_CTES}
{_SQL_EMB_LSH_SELECT}
""",
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup (vs embedding_near_dup's
    all-pairs baseline): sign-LSH bucket self-join with Hamming-1 probing,
    exact-cosine verify >= 0.999 (operators/similarity.py
    lsh_near_dup_pairs). Same augmented corpus as the baseline; the oracle
    replicates the identical md5-derived bucketing, probe expansion, and
    sequential-fold cosine, so candidate generation itself is gated
    bit-exactly -- and recall vs brute force is additionally pytest-gated.

    The plane count is CORPUS-DERIVED: npl = max(8, bit_length(n/16))
    keeps expected bucket occupancy ~16 at any scale (integer-exact on
    both engines; 8 at both gate scales, so gate answers are unchanged).
    The r11 sweep measured the fixed 8-plane grid at 2.9x on 10x
    vectors -- in-bucket candidate work grows ~n^2/2^planes when the
    key space is fixed (the dbscan corpus-sized-grid precedent). Sign
    buckets are invariant to the planted positive-scaling near-dups,
    and a 0.999-cosine pair flips a plane with p ~= 0.005, so Hamming-1
    probing holds recall as the grid grows (pytest-gated)."""
    from ..catalog import spread
    from ..operators.similarity import lsh_near_dup_pairs

    # spread(): the fixture is a 2-split file and the per-candidate dot
    # folds inherit scan parallelism through the bucket join -- widen it
    base = load_table(spark, sf_dir, "embeddings")
    npl = max(8, (base.count() // 16).bit_length())
    emb = spread(base)
    corpus = augmented_embeddings(emb)
    pairs = lsh_near_dup_pairs(corpus, threshold=0.999, n_planes=npl, dim=64)
    return pairs.select("id_a", "id_b", F.round("score", 6).alias("score"))


@query(
    "embedding_dup_clusters",
    oracle=f"""
WITH RECURSIVE {_SQL_EMB_LSH_CTES},
pairs AS ({_SQL_EMB_LSH_SELECT}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS node, LEAST(u, MIN(v)) AS component
FROM reach GROUP BY u
""",
)
def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: sign-LSH near-dup pair generation over
    the embedding column composed with distributed connected components
    (min-label propagation, operators/components.py) -- the
    SemDeDup-style grouping step that collapses chains of pairwise-similar
    vectors into one cluster id per group, where pairwise thresholds alone
    would keep every chain member. Same plan building blocks as the text
    near-dup path (bucket equi-join candidates, O(log n) component
    rounds), reused over a different modality; the oracle closes the
    identical pair graph with a recursive-CTE transitive closure."""
    from ..catalog import spread
    from ..operators.components import connected_components
    from ..operators.similarity import lsh_near_dup_pairs

    base = load_table(spark, sf_dir, "embeddings")
    # corpus-derived grid, same derivation as embedding_near_dup_lsh
    npl = max(8, (base.count() // 16).bit_length())
    emb = spread(base)
    corpus = augmented_embeddings(emb)
    pairs = lsh_near_dup_pairs(corpus, threshold=0.999, n_planes=npl, dim=64)
    return connected_components(pairs.select("id_a", "id_b"))


@query(
    "embedding_near_dup",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
  FROM embeddings WHERE vec_id % 20 = 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_SQL_COSINE.format(a='a.v', b='b.v')}, 6) AS score
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE {_SQL_COSINE.format(a='a.v', b='b.v')} >= 0.999
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection over an augmented corpus
    (scaled copies of every 20th vector are exact directional dupes).

    Exact all-pairs via blocked BLAS tiles (operators/similarity.py
    allpairs_cosine): O(n^2) flops in numpy matmul instead of an
    interpreted per-pair fold. Float note: numpy's pairwise summation and
    the oracle's sequential fold differ at ~1e-13 relative -- near-dup
    scores sit at ~1.0 and non-dup cosines concentrate well below 0.9 in
    64-dim, so neither the 0.999 cut nor the 6dp rounding can flip."""
    from ..operators.similarity import allpairs_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = augmented_embeddings(emb)
    scored = allpairs_cosine(corpus, threshold=0.999)
    return scored.select(
        "id_a", "id_b", F.round("score", 6).alias("score")
    )


# Exact int64 dot product of DuckDB integer-code lists {a} x {b} (same
# index-fold shape as _SQL_DOT; products/sums stay integer, so exact).
_SQL_IDOT = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, len({a})), "
    "i -> {a}[i] * {b}[i])), "
    "(acc, x) -> acc + x)"
)


@query(
    "ann_sq8_topk",
    oracle=f"""
WITH scales AS (
  SELECT vec_id, embedding,
         NULLIF(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             (a, x) -> CASE WHEN x > a THEN x ELSE a END), 0) AS s
  FROM embeddings
),
qz AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS BIGINT)) AS codes
  FROM scales
),
n AS (
  SELECT vec_id, codes, {_SQL_IDOT.format(a='codes', b='codes')} AS nn FROM qz
),
q AS (SELECT vec_id AS query_id, codes AS qc, nn AS qn FROM n WHERE vec_id < 10 AND nn > 0),
scored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         CAST({_SQL_IDOT.format(a='c.codes', b='q.qc')} AS DOUBLE)
           / (sqrt(CAST(c.nn AS DOUBLE)) * sqrt(CAST(q.qn AS DOUBLE))) AS score
  FROM n c, q WHERE c.vec_id <> q.query_id AND c.nn > 0
),
ranked AS (
  SELECT query_id, match_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 5
""",
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) cosine top-k -- the MEMORY scale path for
    similarity search (4x smaller than float32 at rest, composable with
    the IVF cell pruning like a faiss IVF,SQ8 index). Correctness-gated on
    the exact quantized ranking: integer dot products are exact, so both
    engines produce bit-identical scores and an identical top-5 under the
    (score DESC, match_id) total order. Recall vs the float32 brute-force
    baseline is pytest-gated (tests/test_ann.py)."""
    from ..operators.similarity import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return sq8_topk(emb, _ann_queries(emb), k=ANN_K)


@query(
    "ann_ivf_sq8_topk",
    oracle=f"""
WITH cent AS (
  SELECT label, j - 1 AS dim, ROUND(AVG(CAST(embedding[j] AS DOUBLE)), 6) AS c
  FROM embeddings, generate_series(1, 64) AS t(j)
  GROUP BY label, j
),
carr AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
cellscore AS (
  SELECT e.vec_id, ca.label,
         {_SQL_COSINE.format(a='e.embedding', b='ca.cv')} AS score
  FROM embeddings e CROSS JOIN carr ca
),
cellrank AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, label) AS rn
  FROM cellscore
),
assign AS (SELECT vec_id, label AS cell FROM cellrank WHERE rn = 1),
probes AS (SELECT vec_id, label AS cell FROM cellrank WHERE rn <= 2 AND vec_id < 10),
scales AS (
  SELECT vec_id, embedding,
         NULLIF(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             (a, x) -> CASE WHEN x > a THEN x ELSE a END), 0) AS s
  FROM embeddings
),
qz AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS BIGINT)) AS codes
  FROM scales
),
n AS (
  SELECT vec_id, codes, {_SQL_IDOT.format(a='codes', b='codes')} AS nn FROM qz
),
cand AS (
  SELECT p.vec_id AS query_id, a.vec_id AS match_id
  FROM probes p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.vec_id
),
scored AS (
  SELECT cd.query_id, cd.match_id,
         CAST({_SQL_IDOT.format(a='nm.codes', b='nq.codes')} AS DOUBLE)
           / (sqrt(CAST(nm.nn AS DOUBLE)) * sqrt(CAST(nq.nn AS DOUBLE))) AS score
  FROM cand cd
  JOIN n nm ON nm.vec_id = cd.match_id AND nm.nn > 0
  JOIN n nq ON nq.vec_id = cd.query_id AND nq.nn > 0
),
ranked AS (
  SELECT query_id, match_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 5
""",
)
def ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell pruning composed with SQ8 int8 scoring (faiss ``IVF,SQ8``
    shape): build-time float cell assignment, scan-time integer scoring
    over quarter-width codes, candidates via the cell equi-join. The
    oracle replicates the full composition (centroid ranking, nprobe=2
    probes, quantization, integer dots) bit-exactly; recall vs float
    brute force is pytest-gated."""
    from ..operators.similarity import ivf_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_sq8_topk(emb, _ann_queries(emb), k=ANN_K, nprobe=ANN_NPROBE)


@query(
    "ann_rrf_fusion",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
fscored AS (
  SELECT q.query_id, c.vec_id AS match_id,
         {_SQL_COSINE.format(a='q.q_vec', b='c.embedding')} AS score
  FROM embeddings c, q
  WHERE c.vec_id <> q.query_id
),
f_ranked AS (
  SELECT query_id, match_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rnk
  FROM fscored
),
float_top AS (SELECT query_id, match_id, rnk FROM f_ranked WHERE rnk <= 10),
scales AS (
  SELECT vec_id, embedding,
         NULLIF(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             (a, x) -> CASE WHEN x > a THEN x ELSE a END), 0) AS s
  FROM embeddings
),
qz AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS BIGINT)) AS codes
  FROM scales
),
n AS (
  SELECT vec_id, codes, {_SQL_IDOT.format(a='codes', b='codes')} AS nn FROM qz
),
sq AS (SELECT vec_id AS query_id, codes AS qc, nn AS qn FROM n WHERE vec_id < 10 AND nn > 0),
sscored AS (
  SELECT sq.query_id, c.vec_id AS match_id,
         CAST({_SQL_IDOT.format(a='c.codes', b='sq.qc')} AS DOUBLE)
           / (sqrt(CAST(c.nn AS DOUBLE)) * sqrt(CAST(sq.qn AS DOUBLE))) AS score
  FROM n c, sq WHERE c.vec_id <> sq.query_id AND c.nn > 0
),
s_ranked AS (
  SELECT query_id, match_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rnk
  FROM sscored
),
sq8_top AS (SELECT query_id, match_id, rnk FROM s_ranked WHERE rnk <= 10),
fused AS (
  SELECT COALESCE(f.query_id, s.query_id) AS query_id,
         COALESCE(f.match_id, s.match_id) AS match_id,
         COALESCE(1.0 / (60 + f.rnk), 0) + COALESCE(1.0 / (60 + s.rnk), 0) AS rrf
  FROM float_top f
  FULL OUTER JOIN sq8_top s
    ON s.query_id = f.query_id AND s.match_id = f.match_id
),
final AS (
  SELECT query_id, match_id, rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, match_id) AS rank
  FROM fused
)
SELECT query_id, match_id, rank, ROUND(rrf, 6) AS rrf
FROM final WHERE rank <= 5
""",
)
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion over two retrievers (hybrid retrieval):
    fuse the float brute-force top-10 and the SQ8 quantized top-10 per
    query with RRF = sum 1/(60+rank) -- the standard score-free fusion
    that is robust to incomparable score scales. Rank lists are the two
    already-gated retriever shapes; fusion is a full-outer join on
    (query, match) plus a re-rank window. Deterministic end-to-end: RRF
    sums are exact small-rational doubles, ties broken by match_id."""
    from ..operators.similarity import brute_force_topk, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    f = brute_force_topk(emb, qs, k=10).select(
        "query_id", "match_id", F.col("rank").alias("f_rnk")
    )
    s = sq8_topk(emb, qs, k=10).select(
        "query_id", "match_id", F.col("rank").alias("s_rnk")
    )
    fused = (
        f.join(s, ["query_id", "match_id"], "full_outer")
        .select(
            "query_id",
            "match_id",
            (
                F.coalesce(1.0 / (60 + F.col("f_rnk")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("s_rnk")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("match_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "match_id", "rank", F.round("rrf", 6).alias("rrf"))
    )


# Sequential-fold squared-L2 between subspace s of embedding column {e}
# (elements {e}[{s}*d_sub + i]) and codeword list {cw}: left fold,
# ascending index, plain multiplies -- the exact IEEE op sequence the
# Spark side's zip_with/aggregate lowering performs.
def _sql_l2sq(e: str, s: str, cw: str, d_sub: int = 8) -> str:
    diff = f"(CAST({e}[{s}*{d_sub} + i] AS DOUBLE) - {cw}[i])"
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {d_sub}), i -> {diff} * {diff})), "
        "(acc, x) -> acc + x)"
    )


# PQ encode + ADC scoring as reusable CTE text (cent/carr/cb/enc/lut/adc
# + ranked): shared by the plain ADC top-k and the shortlist+rerank query.
_SQL_PQ_CTES = f"""cent AS (
  SELECT label, j - 1 AS dim, ROUND(AVG(CAST(embedding[j] AS DOUBLE)), 6) AS c
  FROM embeddings, generate_series(1, 64) AS t(j)
  GROUP BY label, j
),
carr AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
cb AS (
  SELECT s, label AS lab, cv[s*8+1 : s*8+8] AS cw
  FROM carr, generate_series(0, 7) AS t(s)
),
enc AS (
  SELECT vec_id, s, lab AS code FROM (
    SELECT e.vec_id, cb.s, cb.lab,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.s
                              ORDER BY {_sql_l2sq('e.embedding', 'cb.s', 'cb.cw')}, cb.lab) AS rn
    FROM embeddings e CROSS JOIN cb
  ) WHERE rn = 1
),
lut AS (
  SELECT q.vec_id AS query_id, cb.s, cb.lab,
         CAST(ROUND({_sql_l2sq('q.embedding', 'cb.s', 'cb.cw')}, 9) AS DECIMAL(28,9)) AS d
  FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 10
),
adc AS (
  SELECT l.query_id, c.vec_id AS match_id, SUM(l.d) AS dist
  FROM enc c JOIN lut l ON l.s = c.s AND l.lab = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, match_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rank,
         dist
  FROM adc
)"""


@query(
    "ann_pq_topk",
    oracle=f"""
WITH {_SQL_PQ_CTES}
SELECT query_id, match_id, rank, ROUND(CAST(dist AS DOUBLE), 6) AS adc_dist
FROM ranked WHERE rank <= 5
""",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC): completes the quantization family
    (LSH buckets / IVF cells / SQ8 codes / IVF,SQ8 / RRF fusion) with the
    memory-scale rung -- 64 floats per vector compress to m=8 one-byte
    code ids against label-mean codebooks, and queries score candidates
    through a per-query distance lookup table instead of touching raw
    vectors (operators/similarity.py pq_topk). The corpus-side scan is a
    pure projection + broadcast join (encode against literal codebooks,
    m map lookups per row); the per-subspace distance terms are
    9dp-quantized to DECIMAL before the m-way sum so the ADC total is
    associative and engine-exact, which is what lets the oracle replicate
    encode + search bit-for-bit. Recall vs the float brute force is
    additionally pytest-gated."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, _ann_queries(emb), k=ANN_K, m=PQ_M, dim=ANN_DIM)


@query(
    "ann_pq_rerank",
    oracle=f"""
WITH {_SQL_PQ_CTES},
short AS (SELECT query_id, match_id FROM ranked WHERE rank <= 50),
rer AS (
  SELECT s.query_id, s.match_id,
         {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} AS score
  FROM short s
  JOIN embeddings a ON a.vec_id = s.query_id
  JOIN embeddings b ON b.vec_id = s.match_id
)
SELECT query_id, match_id, rank, ROUND(score, 6) AS score
FROM (
  SELECT query_id, match_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rank
  FROM rer
) WHERE rank <= 5
""",
)
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval composition: PQ/ADC generates a cheap
    shortlist (50 candidates from compressed codes, never touching raw
    vectors), then ONLY those candidates are re-ranked by exact float
    cosine -- the two-stage shape every large-scale vector store runs
    (quantized scan -> exact rerank). The rerank join touches
    |queries| x 50 rows regardless of corpus size; pytest gates that
    reranking lifts recall over raw ADC order."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = _ann_queries(emb)
    short = pq_topk(
        emb, qs, k=PQ_SHORTLIST, m=PQ_M, dim=ANN_DIM
    ).select("query_id", "match_id")
    return _exact_rerank(emb, qs, short)


def _exact_rerank(emb: DataFrame, qs: DataFrame, short: DataFrame) -> DataFrame:
    """Exact float-cosine re-rank of a (query_id, match_id) shortlist --
    factored out so the recall scoreboard reranks the SAME ranked frame
    the pq leg derives from instead of re-encoding the corpus."""
    from ..functions.vectors import cosine_similarity

    qv = qs.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    cv = emb.select(F.col("vec_id").alias("match_id"), F.col("embedding").alias("_cv"))
    rer = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .select(
            "query_id",
            "match_id",
            cosine_similarity("_qv", "_cv").alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("match_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_K)
        .select("query_id", "match_id", "rank", F.round("score", 6).alias("score"))
    )


@query(
    "ann_index_build_stats",
    oracle=f"""
WITH cent AS (
  SELECT label, j - 1 AS dim, ROUND(AVG(CAST(embedding[j] AS DOUBLE)), 6) AS c
  FROM embeddings, generate_series(1, 64) AS t(j)
  GROUP BY label, j
),
carr AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
best AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, ca.label AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_SQL_COSINE.format(a='e.embedding', b='ca.cv')} DESC, ca.label) AS rn
    FROM embeddings e CROSS JOIN carr ca
  ) WHERE rn = 1
),
cb AS (SELECT label AS lab, cv[1:8] AS cw FROM carr),
enc0 AS (
  SELECT vec_id, lab AS code FROM (
    SELECT e.vec_id, cb.lab,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_sql_l2sq('e.embedding', '0', 'cb.cw')}, cb.lab) AS rn
    FROM embeddings e CROSS JOIN cb
  ) WHERE rn = 1
),
scales AS (
  SELECT vec_id,
         ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
             (a, x) -> CASE WHEN x > a THEN x ELSE a END), 6) AS s
  FROM embeddings
)
SELECT b.cell, COUNT(*) AS n_vectors,
       CAST(SUM(CAST(sc.s AS DECIMAL(18,6))) AS DOUBLE) AS total_scale,
       COUNT(DISTINCT e.code) AS pq0_codes
FROM best b
JOIN enc0 e USING (vec_id)
JOIN scales sc USING (vec_id)
GROUP BY 1
""",
)
def ann_index_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX BUILD as one declarative plan: the artifacts a vector store
    materializes offline -- IVF cell assignment (coarse quantizer), SQ8
    per-vector scales, and PQ codes -- computed in a single pass over the
    corpus and summarized per cell (occupancy, total quantization scale,
    distinct subspace-0 codewords in use). All three encodes are
    projections against broadcast/literal quantizer tables, so the whole
    build is scan + project + one groupBy(cell): the shape that writes a
    sharded index at 100 TB without any per-vector driver involvement.
    The oracle recomputes every artifact from the shared deterministic
    quantizer formulas."""
    from ..functions.vectors import max_abs
    from ..operators.similarity import (
        ivf_assign,
        ivf_centroid_arrays,
        pq_code_col,
        pq_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroid_arrays(emb)
    cbs = pq_codebooks(emb, m=8, dim=64)
    built = emb.select(
        ivf_assign("embedding", cents).alias("cell"),
        F.round(max_abs("embedding"), 6)
        .cast("decimal(18,6)")
        .alias("_scale"),
        pq_code_col("embedding", cbs[0], 0, 8).alias("_pq0"),
    )
    return built.groupBy("cell").agg(
        F.count("*").alias("n_vectors"),
        F.sum("_scale").cast("double").alias("total_scale"),
        F.countDistinct("_pq0").alias("pq0_codes"),
    )


def _kmeans_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Unrolled-CTE twin of operators/kmeans.kmeans_lloyd: seed -> assign
    -> (recenter -> assign) x iters, all BIGINT micro-unit arithmetic
    (DuckDB's `//` and Spark's `div` both truncate toward zero --
    verified -- so centroid means match sign-for-sign)."""
    dist = (
        "CAST(list_sum(list_transform(generate_series(1, {dim}), "
        "j -> (q.v[j] - c.v[j]) * (q.v[j] - c.v[j]))) AS BIGINT)"
    ).format(dim=dim)
    parts = [f"""WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
  FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT {k})
)"""]
    for r in range(iters + 1):
        if r > 0:
            parts.append(f""",
c{r} AS MATERIALIZED (
  SELECT cid, list(m ORDER BY j) AS v FROM (
    SELECT a.cluster AS cid, g.j, SUM(q.v[g.j]) // COUNT(*) AS m
    FROM a{r - 1} a JOIN q USING (vec_id)
    CROSS JOIN generate_series(1, {dim}) g(j)
    GROUP BY 1, 2
  ) GROUP BY cid
)""")
        parts.append(f""",
a{r} AS MATERIALIZED (
  SELECT vec_id, cid AS cluster, dist FROM (
    SELECT vec_id, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM (SELECT q.vec_id, c.cid, {dist} AS dist FROM q CROSS JOIN c{r} c)
  ) WHERE rn = 1
)""")
    parts.append(f"""
SELECT vec_id, CAST(cluster AS INT) AS cluster, dist FROM a{iters}""")
    return "".join(parts)


@query("embedding_kmeans_lloyd", oracle=_kmeans_oracle(8, 3, 64))
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (operators/kmeans.py): the ITERATIVE
    quantizer next to the one-pass label quantizer the IVF index uses --
    k=8, 3 rounds, deterministic lowest-id seeding. Per round: a pure
    literal-matrix projection assigns (no shuffle), one (cluster, dim)
    shuffle recenters, k*dim ints cross the driver. Exact integer
    micro-unit arithmetic end-to-end makes the unrolled-CTE oracle a
    bit-for-bit gate on final assignments AND distances -- the fourth
    iterative driver-loop operator (components, BPE, PageRank)."""
    from ..operators.kmeans import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, k=8, iters=3).select(
        "vec_id", F.col("cluster").cast("int").alias("cluster"), "dist"
    )


# --- ANN quality scoreboard ---------------------------------------------------

def _recall_scoreboard_oracle() -> str:
    """Composes the ALREADY-REGISTERED oracles of the exact baseline and
    each approximate method as CTE subqueries (DuckDB allows a nested
    WITH inside a CTE), so the scoreboard's ground truth is definitionally
    the same SQL the per-method gates run."""
    from .registry import ALL_ORACLES

    legs = {
        "sq8": "ann_sq8_topk",
        "ivf_sq8": "ann_ivf_sq8_topk",
        "pq": "ann_pq_topk",
        "pq_rerank": "ann_pq_rerank",
    }
    ctes = ",\n".join(
        f"m_{m} AS ({ALL_ORACLES[q]})" for m, q in legs.items()
    )
    union = "\nUNION ALL ".join(
        f"SELECT '{m}' AS method, query_id, match_id FROM m_{m}"
        for m in legs
    )
    return f"""
WITH exact_leg AS ({ALL_ORACLES['knn_bruteforce_cosine']}),
{ctes},
approx AS ({union}),
ex AS (SELECT query_id, match_id FROM exact_leg),
nex AS (SELECT COUNT(*) AS n_exact FROM ex),
hits AS (
  SELECT a.method,
         COUNT(e.match_id) AS n_hits,
         COUNT(*) AS n_returned
  FROM approx a
  LEFT JOIN ex e ON e.query_id = a.query_id AND e.match_id = a.match_id
  GROUP BY 1
)
SELECT h.method, h.n_hits, h.n_returned, x.n_exact,
       ROUND(CAST(h.n_hits AS DOUBLE) / NULLIF(x.n_exact, 0), 4) AS recall
FROM hits h CROSS JOIN nex x
"""


@query("ann_recall_scoreboard", oracle=_recall_scoreboard_oracle())
def ann_recall_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scoreboard as a GATED QUERY: recall@5 of every
    approximate method (SQ8 flat, IVF+SQ8, PQ-ADC, PQ+exact-rerank)
    against the float32 brute-force baseline, one row per method. The
    per-method pytest floors (tests/test_ann.py) catch regressions
    locally; registering the scoreboard puts the same quality numbers
    under the driver's oracle gate, so an index change that silently
    costs recall shows up as a value mismatch, not just a local red
    test. Each leg computes EXACTLY what its registered query computes
    (same operators, same parameters), so the scoreboard cannot drift
    from the methods it scores.

    Optimization r11 (guide §1.2 step 1 -- remove redundant passes): the
    naive composition re-ran the per-leg query callables, which (a)
    trained the SAME label-centroid quantizer three times (ivf_sq8, pq,
    pq_rerank each collect the identical K x 64 table: three extra
    aggregation jobs at build time) and (b) PQ-encoded the corpus twice
    (pq and pq_rerank share encode + ADC ranking; only the rank cutoff
    differs). Now the quantizer is collected ONCE, and the two PQ legs
    derive from ONE ranked frame pinned with a LAZY localCheckpoint --
    the checkpointed frame is |queries| x 50 rows, O(queries) at any
    corpus size, while the avoided re-execution is a full corpus encode
    pass per extra consumer. Measured sf0.1 warm (idle box, best-of-4):
    11.0 s -> 8.5 s; plan: 28 -> 20 parquet scans, 46 -> 32 exchanges.
    (The un-checkpointed shared frame measured 7.8 s here -- 0.7 s
    cheaper locally because re-encoding 2000 vectors is nearly free --
    but it re-runs the corpus encode once per consumer, which at 100 TB
    is a second full pass over the data; the O(queries) barrier is the
    scale-correct shape, so it stays.) Results are bit-identical: the
    shared pieces are the same expressions the per-leg queries build."""
    from ..operators.similarity import (
        ivf_centroid_arrays,
        ivf_sq8_topk,
        pq_topk,
        sq8_topk,
    )

    # The exact leg has two consumers (hit join + denominator count);
    # measured: leaving both in ONE lazy DAG (10.9 s) beats pinning with
    # localCheckpoint (12.2 s) -- the materialization barrier costs more
    # than re-deriving the 50-row exact top-k inside the fused plan.
    exact = knn_bruteforce_cosine(spark, sf_dir).select(
        "query_id", "match_id"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qs = _ann_queries(emb)
    cents = ivf_centroid_arrays(emb)  # ONE quantizer job for 3 legs
    ranked50 = pq_topk(
        emb, qs, k=PQ_SHORTLIST, m=PQ_M, dim=ANN_DIM, cents=cents
    ).localCheckpoint(eager=False)
    legs = {
        "sq8": sq8_topk(emb, qs, k=ANN_K),
        "ivf_sq8": ivf_sq8_topk(emb, qs, k=ANN_K, nprobe=ANN_NPROBE, cents=cents),
        "pq": ranked50.filter(F.col("rank") <= ANN_K),
        "pq_rerank": _exact_rerank(
            emb, qs, ranked50.select("query_id", "match_id")
        ),
    }
    tagged = None
    for m, leg in legs.items():
        part = leg.select(
            F.lit(m).alias("method"), "query_id", "match_id"
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    nex = exact.agg(F.count("*").alias("n_exact"))
    hits = (
        tagged.join(
            exact.withColumn("_hit", F.lit(1)),
            ["query_id", "match_id"],
            "left",
        )
        .groupBy("method")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.count("*").alias("n_returned"),
        )
    )
    return hits.crossJoin(F.broadcast(nex)).select(
        "method",
        "n_hits",
        "n_returned",
        "n_exact",
        F.round(
            F.col("n_hits").cast("double")
            / F.nullif(F.col("n_exact"), F.lit(0)),
            4,
        ).alias("recall"),
    )


def _incremental_index_oracle() -> str:
    """Same per-cell occupancy spec as ann_ivf_cells -- the maintained
    index must agree with the direct relational assignment."""
    from .registry import ALL_ORACLES

    return ALL_ORACLES["ann_ivf_cells"]


@query("ann_incremental_index_stats", oracle=_incremental_index_oracle())
def ann_incremental_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTALLY-MAINTAINED IVF index, gated against the direct
    assignment spec: the quantizer is trained and frozen (persisted
    beside the sink), the corpus arrives as two micro-batches through
    the real snapshot-pointer index sink (streaming/ann_index.
    apply_index_batch -- the exact code path the streaming maintenance
    runs), and the final index's per-cell occupancy must equal
    ann_ivf_cells' one-shot relational assignment. Proves the
    production index-growth path (new vectors never re-scan old ones)
    computes the same index a from-scratch build would."""
    from ..fixtures import fresh_dir
    from ..streaming.ann_index import (
        apply_index_batch,
        read_index,
        train_quantizer,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    # the incremental index-growth path (quantizer training + two-batch
    # apply) IS the gated operator: a fresh dir, so it runs inside the
    # timed region every invocation
    root = fresh_dir("ivf_index", sf_dir)
    train_quantizer(emb, root)
    apply_index_batch(spark, emb.where(F.col("vec_id") % 2 == 0), 0, root)
    apply_index_batch(spark, emb.where(F.col("vec_id") % 2 == 1), 1, root)
    return (
        read_index(spark, root)
        .groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
    )


@query(
    "ann_filtered_topk",
    oracle=f"""
WITH cent AS (
  SELECT label, j - 1 AS dim, ROUND(AVG(CAST(embedding[j] AS DOUBLE)), 6) AS c
  FROM embeddings, generate_series(1, 64) AS t(j)
  GROUP BY label, j
),
carr AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label),
cellscore AS (
  SELECT e.vec_id, ca.label,
         {_SQL_COSINE.format(a='e.embedding', b='ca.cv')} AS score
  FROM embeddings e CROSS JOIN carr ca
),
cellrank AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, label) AS rn
  FROM cellscore
),
assign AS (SELECT vec_id, label AS cell FROM cellrank WHERE rn = 1
           AND vec_id % 3 = 0),
probes AS (SELECT vec_id, label AS cell FROM cellrank WHERE rn <= 2 AND vec_id < 10),
scored AS (
  SELECT p.vec_id AS query_id, a.vec_id AS match_id,
         {_SQL_COSINE.format(a='q.embedding', b='c.embedding')} AS score
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
  JOIN embeddings q ON q.vec_id = p.vec_id
  JOIN embeddings c ON c.vec_id = a.vec_id
),
ranked AS (
  SELECT query_id, match_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, match_id) AS rank
  FROM scored
)
SELECT query_id, match_id, rank, ROUND(score, 6) AS score
FROM ranked WHERE rank <= 5
""",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the vector-DB "metadata predicate" shape):
    top-5 cosine neighbors per query among ONLY the corpus vectors
    passing a tenancy-style predicate (vec_id % 3 = 0), probing the 2
    nearest IVF cells of an index built over the FULL corpus -- filters
    apply at query time, the index is not rebuilt per predicate.

    Pre-filtering, not post-filtering: the predicate lands on the corpus
    scan BEFORE the cell equi-join, so pruned vectors are never scored
    (a post-filter over an unfiltered top-k loses recall when the filter
    is selective -- the classic filtered-ANN failure mode). Plan: the
    candidate join stays the IVF hash equi-join on cell id; the
    predicate is a pushed parquet filter on the probe side's big
    relation. Exact within-cell ranking, 6dp-rounded fold cosine
    (bit-identical across engines)."""
    from ..functions.vectors import dot, l2_norm
    from ..operators.similarity import (
        ivf_assign,
        ivf_centroid_arrays,
        ivf_probe_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroid_arrays(emb)  # index trained on the FULL corpus
    # norms hoisted to one fold per ROW (brute_force_topk staging note)
    c = (
        emb.where(F.col("vec_id") % 3 == 0)  # predicate BEFORE scoring
        .select(
            F.col("vec_id").alias("match_id"),
            F.col("embedding").alias("c_vec"),
            l2_norm("embedding").alias("_cn"),
            ivf_assign("embedding", cents).alias("cell"),
        )
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        l2_norm("embedding").alias("_qn"),
        F.explode(ivf_probe_cells("embedding", cents, 2)).alias("cell"),
    )
    score = dot("q_vec", "c_vec") / F.nullif(
        F.col("_qn") * F.col("_cn"), F.lit(0.0)
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .select("query_id", "match_id", score.alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("match_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "match_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.round("score", 6).alias("score"),
        )
    )


@query(
    "ann_jl_distortion",
    oracle=f"""
WITH planes AS (
  SELECT p, list_transform(generate_series(0, 63),
           j -> CAST((CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) AS DOUBLE) / 1000.0) AS w
  FROM generate_series(0, 31) AS t(p)
),
proj AS (
  SELECT e.vec_id, pl.p, {_SQL_DOT.format(a='e.embedding', b='pl.w')} AS d
  FROM embeddings e, planes pl
),
parr AS (SELECT vec_id, list(d ORDER BY p) AS pv FROM proj GROUP BY vec_id),
pairs AS (
  SELECT e.vec_id AS a_id,
         {_SQL_COSINE.format(a='e.embedding', b='f.embedding')} AS cos_o,
         ea.pv AS pa, fa.pv AS pb
  FROM embeddings e
  JOIN embeddings f ON e.vec_id + 1 = f.vec_id
  JOIN parr ea ON ea.vec_id = e.vec_id
  JOIN parr fa ON fa.vec_id = f.vec_id
),
errs AS (
  SELECT m.m AS out_dim,
         CAST(ROUND(abs({_SQL_COSINE.format(a='pa[1:m.m]', b='pb[1:m.m]')} - cos_o), 9)
              AS DECIMAL(18,9)) AS err
  FROM pairs, (VALUES (8), (16), (32)) m(m)
)
SELECT CAST(out_dim AS BIGINT) AS out_dim,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(err) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err,
       ROUND(CAST(MAX(err) AS DOUBLE), 6) AS max_abs_err
FROM errs GROUP BY 1
""",
)
def ann_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL dimensionality-reduction tradeoff curve, measured on the
    corpus itself: cosine distortion |cos(proj(u), proj(v)) - cos(u, v)|
    of the deterministic random projection (operators/similarity.
    random_project) at out_dim 8 / 16 / 32, over the linear-size panel
    of consecutive-id vector pairs -- mean and max absolute error per
    target dimension, the table an engineer reads to pick the smallest
    out_dim whose distortion their recall budget tolerates (the same
    decision OPQ/PCA dim-reduction asks before SQ8/PQ quantization,
    which this composes with).

    Exactness: the projection matrix is the md5-derived plane grid
    (literal constants in Spark, the identical formula in SQL), every
    dot/cosine is a sequential left fold in both engines, and per-pair
    errors are 9dp-DECIMAL-quantized before the sum -- so mean/max are
    bit-identical, no tolerance band. The 32-dim projection is computed
    ONCE and sliced for 8/16 (plane p is plane p at every out_dim: a
    prefix property of the grid). Plan: one codegen'd projection over
    the corpus, one linear self-equi-join on vec_id+1 (never all
    pairs), one broadcast of the 3-row dim table, one hash aggregate."""
    from ..functions.vectors import cosine_similarity
    from ..operators.similarity import random_project

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = random_project(base, out_dim=32, out_col="pv")
    e, f_ = proj.alias("e"), proj.alias("f")
    pairs = e.join(
        f_, F.col("e.vec_id") + F.lit(1) == F.col("f.vec_id")
    ).select(
        cosine_similarity("e.embedding", "f.embedding").alias("cos_o"),
        F.col("e.pv").alias("pa"),
        F.col("f.pv").alias("pb"),
    )
    dims = spark.range(1).select(
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("m")
    )
    errs = pairs.crossJoin(F.broadcast(dims)).select(
        F.col("m"),
        F.round(
            F.abs(
                cosine_similarity(
                    F.slice("pa", 1, F.col("m")), F.slice("pb", 1, F.col("m"))
                )
                - F.col("cos_o")
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("err"),
    )
    return errs.groupBy(F.col("m").cast("bigint").alias("out_dim")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.sum("err").cast("double") / F.count("*"), 6).alias(
            "mean_abs_err"
        ),
        F.round(F.max("err").cast("double"), 6).alias("max_abs_err"),
    )


@query(
    "embedding_dbscan_clusters",
    oracle=f"""
WITH RECURSIVE nn AS (
  SELECT LEAST(16, GREATEST(4, CAST(ceil(log2(GREATEST(COUNT(*), 1) / 125.0)) AS INT))) AS npl
  FROM embeddings
),
planes AS (
  SELECT p, list_transform(generate_series(0, 63),
           j -> CAST((CAST(('0x' || substring(md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000) AS DOUBLE) / 1000.0) AS w
  FROM generate_series(0, 15) AS t(p), nn WHERE p < nn.npl
),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN {_SQL_DOT.format(a='e.embedding', b='pl.w')} >= 0 THEN '1' ELSE '0' END AS bit
  FROM embeddings e, planes pl
),
buckets AS (
  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket FROM bits GROUP BY vec_id
),
cand AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
nbr AS (
  SELECT c.u, c.v FROM cand c
  JOIN embeddings x ON x.vec_id = c.u
  JOIN embeddings y ON y.vec_id = c.v
  WHERE {_SQL_COSINE.format(a='x.embedding', b='y.embedding')} >= 0.25
),
sym AS (SELECT u, v FROM nbr UNION ALL SELECT v, u FROM nbr),
deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
core AS (SELECT u FROM deg WHERE d >= 3),
core_edges AS (
  SELECT s.u, s.v FROM sym s
  JOIN core a ON a.u = s.u JOIN core b ON b.u = s.v
  UNION
  SELECT u, u FROM core
),
reach(u, v) AS (
  SELECT u, v FROM core_edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN core_edges e ON r.v = e.u
),
comp AS (SELECT u, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u),
border AS (
  SELECT s.u, MIN(cp.component) AS component
  FROM sym s
  JOIN core c ON c.u = s.v
  JOIN comp cp ON cp.u = s.v
  WHERE s.u NOT IN (SELECT u FROM core)
  GROUP BY s.u
)
SELECT e.vec_id,
       CASE WHEN cp.u IS NOT NULL THEN 'core'
            WHEN b.u IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(COALESCE(cp.component, b.component) AS BIGINT) AS cluster
FROM embeddings e
LEFT JOIN comp cp ON cp.u = e.vec_id
LEFT JOIN border b ON b.u = e.vec_id
""",
)
def embedding_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-DBSCAN density clustering (Ester et al. 1996, with the
    candidate generation every at-scale implementation substitutes for
    the quadratic eps-neighborhood query): neighbor candidates come from
    4-bit hyperplane-LSH buckets (the engine's portable md5 plane grid),
    are verified with exact sequential-fold cosine >= 0.25, and the
    classic roles fall out -- CORE (>= 3 verified neighbors), BORDER
    (non-core with a core neighbor, assigned its minimum core cluster),
    NOISE. Core clusters are connected components over core-core edges
    (operators/components.py min-label propagation; isolated cores
    self-loop into singleton clusters). Density is defined OVER THE
    CANDIDATE GRAPH -- the documented LSH-DBSCAN semantics.

    The plane count is CORPUS-SIZED, not fixed: n_planes =
    clamp(4..16, ceil(log2(n / 125))), identically derived on both
    engines from their own COUNT(*), so expected bucket occupancy stays
    ~125 vectors and the within-bucket pair join stays ~O(n * 125)
    however large the corpus (the r7 fixed-4-plane grid measured 2.70x
    wall at 10x data because pairs grew O(n^2/16); with the derived
    grid the sf1 replica runs 8 planes / 256 buckets). At both gate
    scales the formula resolves to exactly 4 planes, so gate answers
    are unchanged. Plane weights are prefix-stable in p (each plane's
    md5 derivation is independent of n_planes), so growing the grid
    refines -- never reshuffles -- the bucket space.

    The fourth clustering face beside k-means (partitional), near-dup
    components (transitive), and SemDeDup-style grouping: density-based,
    with an explicit noise class -- what an embedding-curation pass uses
    to drop outliers and keep dense modes. Plan: one O(1) count scalar,
    one bucket projection, one within-bucket self-join, one exact
    verify, one degree aggregate, O(cores) component rounds, two label
    left-joins. Oracle: the identical pipeline with a recursive-CTE
    closure."""
    import math

    from ..catalog import spread
    from ..functions.vectors import dot, l2_norm
    from ..operators.components import connected_components
    from ..operators.similarity import hyperplane_bucket

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # corpus-sized grid (see docstring); count() is an O(1) driver scalar
    # off the parquet footer stats
    npl = min(16, max(4, math.ceil(math.log2(max(emb.count(), 1) / 125.0))))
    # pin the bucketed projection: the self-join references it twice (an
    # unpinned plan would run the hyperplane dots per side); spread first
    # so the checkpointed rows -- and every downstream pair-verify task --
    # keep scan-independent parallelism (the fixture is one row group);
    # carry each vector's norm so the per-PAIR work is one dot fold, not
    # three (sqrt of the same double * same double is bit-identical to
    # the oracle's inline cosine)
    b = spread(emb).select(
        "vec_id",
        "embedding",
        hyperplane_bucket("embedding", n_planes=npl, dim=64).alias("bucket"),
        l2_norm("embedding").alias("nrm"),
    ).localCheckpoint()
    x, y = b.alias("x"), b.alias("y")
    nbr = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .where(
            dot("x.embedding", "y.embedding")
            / F.nullif(F.col("x.nrm") * F.col("y.nrm"), F.lit(0.0))
            >= 0.25
        )
        .select(F.col("x.vec_id").alias("u"), F.col("y.vec_id").alias("v"))
        .localCheckpoint()
    )
    sym = nbr.unionAll(nbr.select(F.col("v").alias("u"), F.col("u").alias("v")))
    core = (
        sym.groupBy("u")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") >= 3)
        .select("u")
        .localCheckpoint()
    )
    core_edges = (
        sym.join(core.withColumnRenamed("u", "cu"), F.col("u") == F.col("cu"))
        .join(core.withColumnRenamed("u", "cv"), F.col("v") == F.col("cv"))
        .select("u", "v")
        .unionAll(core.select("u", F.col("u").alias("v")))
    )
    comp = connected_components(core_edges, src="u", dst="v").select(
        F.col("node").alias("u"), "component"
    )
    border = (
        sym.join(core.withColumnRenamed("u", "cv"), F.col("v") == F.col("cv"))
        .join(comp.withColumnRenamed("u", "pu"), F.col("v") == F.col("pu"))
        .join(core.withColumnRenamed("u", "self_core"),
              F.col("u") == F.col("self_core"), "left_anti")
        .groupBy("u")
        .agg(F.min("component").alias("component"))
    )
    return (
        emb.select("vec_id")
        .join(
            comp.select(F.col("u").alias("vec_id"), F.col("component").alias("c_core")),
            "vec_id",
            "left",
        )
        .join(
            border.select(F.col("u").alias("vec_id"), F.col("component").alias("c_border")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("c_core").isNotNull(), "core")
            .when(F.col("c_border").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("c_core"), F.col("c_border"))
            .cast("bigint")
            .alias("cluster"),
        )
    )


@query(
    "curation_hard_negatives",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
  FROM embeddings WHERE vec_id % 20 = 0
),
q AS (SELECT vec_id AS query_id, v AS qv FROM corpus
      WHERE vec_id >= 100000 AND vec_id < 100500),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         {_SQL_COSINE.format(a='q.qv', b='c.v')} AS score
  FROM corpus c, q
  WHERE c.vec_id <> q.query_id
),
negs AS (
  SELECT query_id, cand_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, cand_id) AS rank
  FROM scored
  WHERE score < 0.999
)
SELECT query_id, cand_id, CAST(rank AS BIGINT) AS rank,
       ROUND(score, 6) AS score
FROM negs WHERE rank <= 3
""",
)
def curation_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/ANCE
    recipe: the best negatives are the highest-scoring NON-positives,
    not random draws): for each query vector, the top-3 corpus vectors
    by cosine AFTER excluding positives -- here the near-duplicate
    boundary the dedup family uses (cosine >= 0.999 catches each scaled
    copy's source, its exact directional dupe). Runs over the shared
    augmented embedding corpus with the scaled copies as queries, so
    every query provably HAS a positive to exclude: the planted-truth
    discipline of the eval harnesses applied to training-pair assembly.

    Plan: the knn query-block NLJ shape (query block BOUNDED at the
    first 25 planted copies -- fixed like knn's vec_id < 10 block, so
    the broadcast side never scales with the corpus), one filter, one
    per-query window. At 100 TB the scan leg swaps for any of the
    registered ANN indexes (IVF/SQ8/PQ) unchanged -- the exclusion
    filter and ranking are index-agnostic; mining negatives for EVERY
    query is the indexed path, not the brute-force gate. Scores are
    sequential-fold cosines ranked raw and rounded at emit."""
    from ..catalog import spread
    from ..functions.vectors import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # spread + per-row norms: the scan leg folds each vector's norm once
    # per ROW, so the per-PAIR work is a single dot fold (sqrt of the
    # same doubles -- bit-identical to the oracle's inline cosine), and
    # the single-row-group fixture doesn't serialize the query block
    corpus = spread(augmented_embeddings(emb)).withColumn(
        "nrm", l2_norm("v")
    )
    q = corpus.where(
        (F.col("vec_id") >= 100000) & (F.col("vec_id") < 100500)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (
                dot("qv", "v")
                / F.nullif(F.col("qn") * F.col("nrm"), F.lit(0.0))
            ).alias("score"),
        )
    )
    rank = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand_id"))
    )
    return (
        scored.where(F.col("score") < 0.999)
        .withColumn("rank", rank.cast("bigint"))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "rank", F.round("score", 6).alias("score"))
    )


@query(
    "embedding_drift_audit",
    oracle="""
WITH px AS (
  SELECT label % 2 = 0 AS slice_even, j - 1 AS dim,
         CAST(embedding[j] AS DOUBLE) AS val
  FROM embeddings, generate_series(1, 64) AS t(j)
),
m AS (
  SELECT dim,
         ROUND(AVG(CASE WHEN slice_even THEN val END), 6) AS mean_even,
         ROUND(AVG(CASE WHEN NOT slice_even THEN val END), 6) AS mean_odd,
         CAST(COUNT(CASE WHEN slice_even THEN 1 END) AS BIGINT) AS n_even,
         CAST(COUNT(CASE WHEN NOT slice_even THEN 1 END) AS BIGINT) AS n_odd
  FROM px GROUP BY dim
),
d AS (
  SELECT dim, mean_even, mean_odd, n_even, n_odd,
         ROUND(ABS(mean_even - mean_odd), 6) AS drift
  FROM m
)
SELECT CAST(dim AS BIGINT) AS dim, mean_even, mean_odd, n_even, n_odd,
       drift, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY drift DESC, dim) AS rank FROM d
) WHERE rank <= 8
""",
)
def embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift audit -- the vector-side twin of the scalar drift
    family (PSI / KS): per-DIMENSION mean of the embedding column across
    two population slices (label parity stands in for time windows or
    model versions), ranked by absolute mean shift. The top drifted
    dimensions are the standard first diagnostic when retrieval quality
    drops after a re-embed or upstream data change: a uniform shift
    means normalization drift, a few concentrated dims mean semantic
    drift. Plan: ONE positional explode of the vector column (dims x
    rows, linear), one per-dim conditional aggregate (64 groups -- a
    bounded domain), top-8 via TakeOrdered then an 8-row rank window.
    Means follow the gated embedding_centroids ROUND(AVG, 6) idiom."""
    emb = load_table(spark, sf_dir, "embeddings")
    px = emb.select(
        (F.col("label") % 2 == 0).alias("slice_even"),
        F.posexplode("embedding").alias("dim", "val"),
    ).select("slice_even", "dim", F.col("val").cast("double").alias("val"))
    m = px.groupBy("dim").agg(
        F.round(F.avg(F.when(F.col("slice_even"), F.col("val"))), 6).alias(
            "mean_even"
        ),
        F.round(
            F.avg(F.when(~F.col("slice_even"), F.col("val"))), 6
        ).alias("mean_odd"),
        F.count(F.when(F.col("slice_even"), 1))
        .cast("bigint")
        .alias("n_even"),
        F.count(F.when(~F.col("slice_even"), 1))
        .cast("bigint")
        .alias("n_odd"),
    )
    d = m.select(
        "*",
        F.round(F.abs(F.col("mean_even") - F.col("mean_odd")), 6).alias(
            "drift"
        ),
    )
    return (
        d.orderBy(F.desc("drift"), F.asc("dim"))
        .limit(8)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("drift"), F.asc("dim"))),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "mean_even",
            "mean_odd",
            "n_even",
            "n_odd",
            "drift",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
