"""Text-analysis + dedup queries over ``documents`` (SURVEY.md §2.10).

The fixture corpus has no natural duplicates (every text distinct), so the
dedup queries build an AUGMENTED corpus inside the query -- exact copies of
every 10th doc and near-copies (a 2-token tail appended) of every 25th --
deterministically in both engines. This makes the dedup outputs non-empty
and correctness-gated rather than vacuously-empty.

All hashing is md5-derived (portable across Spark and DuckDB); tokenization
is lowercase whitespace split; shingles are word trigrams. See
functions/text.py for the scale rationale (per-row HOFs, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..functions.text import (
    MINHASH_P,
    doc_fingerprint,
    minhash_coeffs,
    predicted_lang,
    quality_columns,
    token_count,
    whitespace_tokens,
)
from ..operators.dedup import exact_dedup, jaccard_pairs, lsh_candidate_pairs, simhash
from .registry import query

# DuckDB fragments mirroring functions/text.py primitives.
_SQL_TOKS = r"regexp_split_to_array(trim(lower({c})), '\s+')"
_SQL_HASH = "CAST(('0x' || substring(md5({s}), 1, 15)) AS BIGINT)"

# Word-trigram shingles of column {c} (matches ngram_shingles(..., 3)).
_SQL_SHINGLES = (
    "CASE WHEN len(" + _SQL_TOKS + ") >= 3 THEN "
    "list_transform(generate_series(1, len(" + _SQL_TOKS + ") - 2), "
    "i -> array_to_string((" + _SQL_TOKS + ")[i:i+2], ' ')) "
    "ELSE [array_to_string(" + _SQL_TOKS + ", ' ')] END"
)


def _augmented_corpus(docs: DataFrame) -> DataFrame:
    """documents + exact copies (%10, id+100000) + near copies (%25,
    id+200000, ' near dup' tail)."""
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    near = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return spread(
        docs.select("doc_id", "text", "lang", "source", "n_chars")
        .unionAll(exact)
        .unionAll(near)
    )


_SQL_AUGMENTED = """
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, lang, source, n_chars FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' near dup', lang, source, n_chars
  FROM documents WHERE doc_id % 25 = 0
"""


@query(
    "text_token_stats",
    oracle=f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({_SQL_TOKS.format(c='text')})) AS BIGINT) AS total_tokens,
       MIN(len({_SQL_TOKS.format(c='text')})) AS min_tokens,
       MAX(len({_SQL_TOKS.format(c='text')})) AS max_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
GROUP BY lang
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tc = token_count("text")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(tc.cast("bigint")).alias("total_tokens"),
        F.min(tc.cast("bigint")).alias("min_tokens"),
        F.max(tc.cast("bigint")).alias("max_tokens"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
    )


@query(
    "text_quality_scores",
    oracle=f"""
SELECT doc_id,
       LENGTH(text) AS n_chars_m,
       len({_SQL_TOKS.format(c='text')}) AS n_tokens,
       ROUND(LENGTH(regexp_replace(lower(text), '[^a-z]', '', 'g'))
             / CAST(len({_SQL_TOKS.format(c='text')}) AS DOUBLE), 6) AS avg_token_len,
       ROUND(LENGTH(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))
             / CAST(LENGTH(text) AS DOUBLE), 6) AS punct_ratio,
       ROUND(LENGTH(regexp_replace(lower(text), '[^a-z]', '', 'g'))
             / CAST(LENGTH(text) AS DOUBLE), 6) AS alpha_ratio,
       ROUND(len(list_filter({_SQL_TOKS.format(c='text')},
                 t -> t IN ('the','a','of','and','to','in','is','it','on','for')))
             / CAST(len({_SQL_TOKS.format(c='text')}) AS DOUBLE), 6) AS stopword_ratio
FROM documents
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    q = quality_columns(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_chars"].alias("n_chars_m"),
        q["n_tokens"].alias("n_tokens"),
        F.round(q["avg_token_len"], 6).alias("avg_token_len"),
        F.round(q["punct_ratio"], 6).alias("punct_ratio"),
        F.round(q["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(q["stopword_ratio"], 6).alias("stopword_ratio"),
    )


_SQL_LANG_SCORE = (
    "len(list_filter(" + _SQL_TOKS.format(c="text") + ", t -> t IN ({m})))"
)


@query(
    "text_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_SQL_LANG_SCORE.format(m="'the','and','of','to','is'")} AS s_en,
         {_SQL_LANG_SCORE.format(m="'el','la','de','que','los'")} AS s_es,
         {_SQL_LANG_SCORE.format(m="'der','die','und','das','ist'")} AS s_de,
         {_SQL_LANG_SCORE.format(m="'le','la','les','des','est'")} AS s_fr,
         {_SQL_LANG_SCORE.format(m="'de5','shi4','le5','zai4','he2'")} AS s_zh
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
            WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
            WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
            WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
            WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS pred_lang
FROM scored
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "lang", predicted_lang("text").alias("pred_lang"))


@query(
    "text_bpe_token_stats",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
       len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS n_bpe_unique,
       len({_SQL_TOKS.format(c='text')}) AS n_words
FROM documents
""",
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting: the BPE pre-tokenizer regex (word /
    number / punct pieces) vs whitespace words -- the token-count signal a
    training pipeline budgets on."""
    from ..functions.text import bpe_ish_tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    staged = docs.select(
        "doc_id",
        bpe_ish_tokens("text").alias("_bpe"),
        token_count("text").alias("n_words"),
    )
    return staged.select(
        "doc_id",
        F.size("_bpe").alias("n_bpe"),
        F.size(F.array_distinct("_bpe")).alias("n_bpe_unique"),
        "n_words",
    )


@query(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({_SQL_SHINGLES.format(c='text')},
                          s -> {_SQL_HASH.format(s='s')})),
         (acc, h) -> (acc * 31 + h % 1000000007) % 1000000007) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import doc_fingerprint_from_tokens, whitespace_tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", whitespace_tokens("text").alias("_toks"))
    return toks.select(
        "doc_id", doc_fingerprint_from_tokens("_toks", 3).alias("fingerprint")
    )


@query(
    "dedup_exact_groups",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED})
SELECT md5(text) AS content_key, COUNT(*) AS n_copies, MIN(doc_id) AS survivor_id
FROM corpus
GROUP BY md5(text)
HAVING COUNT(*) > 1
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return (
        corpus.groupBy(F.md5("text").alias("content_key"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("survivor_id"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "dedup_exact_survivors_count",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED})
SELECT COUNT(*) AS n_rows, COUNT(DISTINCT md5(text)) AS n_distinct
FROM corpus
""",
)
def dedup_exact_survivors_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    deduped = exact_dedup(corpus)
    return corpus.agg(F.count("*").alias("n_rows")).crossJoin(
        deduped.agg(F.count("*").alias("n_distinct"))
    )


# MinHash affine family: ONE md5 per shingle, then h_i = (a_i*h + b_i) % P.
# The (a_i, b_i) ints come from the same fixed-seed generator the Spark side
# uses (functions/text.py minhash_coeffs) -- single source of truth.
def _sql_coeffs(num_hashes: int) -> str:
    rows = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    return f"SELECT * FROM (VALUES {rows}) t(i, a, b)"


_SQL_HASHED = (
    "SELECT doc_id, list_transform(list_distinct("
    + _SQL_SHINGLES.format(c="text")
    + f"), s -> {_SQL_HASH.format(s='s')} % {MINHASH_P}) AS hs FROM corpus"
)

_SQL_MINHASH = f"""
WITH corpus AS ({_SQL_AUGMENTED}),
hashed AS ({_SQL_HASHED}),
coeffs AS ({_sql_coeffs(8)})
SELECT doc_id, i AS h_idx,
       list_min(list_transform(hs, h -> (h * a + b) % {MINHASH_P})) AS minhash
FROM hashed, coeffs
"""


@query("dedup_minhash_signatures", oracle=_SQL_MINHASH)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signature

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return minhash_signature(corpus, num_hashes=8)


# LSH near-dup pipeline as reusable CTE text: shared by the pairs oracle
# and the connected-components (clusters) oracle.
_SQL_LSH_CTES = f"""corpus AS ({_SQL_AUGMENTED}),
shingled AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLES.format(c='text')}) AS grams FROM corpus
),
hashed AS (
  SELECT doc_id, list_transform(grams, s -> {_SQL_HASH.format(s='s')} % {MINHASH_P}) AS hs
  FROM shingled
),
coeffs AS ({_sql_coeffs(16)}),
sigs AS (
  SELECT doc_id, i,
         list_min(list_transform(hs, h -> (h * a + b) % {MINHASH_P})) AS mh
  FROM hashed, coeffs
),
bands AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, unnest(grams) AS s FROM shingled),
verified AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY c.id_a, c.id_b
),
sizes AS (SELECT doc_id, len(grams) AS n_sh FROM shingled)"""

_SQL_LSH_SELECT = """SELECT v.id_a, v.id_b,
       ROUND(CAST(v.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_inter), 6) AS jaccard
FROM verified v
JOIN sizes sa ON sa.doc_id = v.id_a
JOIN sizes sb ON sb.doc_id = v.id_b
WHERE CAST(v.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_inter) >= 0.5"""


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"WITH {_SQL_LSH_CTES}\n{_SQL_LSH_SELECT}",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates -> exact-Jaccard verify -> near-dup pairs.
    16 hashes, 4 bands of 4: band collision prob = j^4 (j=.8 -> .41/band,
    .88 overall). Exact copies and tail-mutated near-copies both surface.
    Uses the integrated operator so the shingle stage is computed once
    (persisted) across candidate generation and verification."""
    from ..operators.dedup import near_dup_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    scored = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    return scored.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED}),
hashed AS ({_SQL_HASHED}),
kept AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df
    FROM (SELECT doc_id, unnest(list_distinct(hs)) AS g FROM hashed)
  ) WHERE df <= 64
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       ROUND(CAST(s.n_inter AS DOUBLE) / (sa.sz + sb.sz - s.n_inter), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE CAST(s.n_inter AS DOUBLE) / (sa.sz + sb.sz - s.n_inter) >= 0.6
""",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct n-gram-Jaccard near-dup pairs -- the NO-SKETCH rung of the
    dedup ladder (exact / n-gram-Jaccard / MinHash-LSH / SimHash): a
    df-capped inverted index on the shingle hash generates candidates as a
    hash self-join, and the emitted score is the exact Jaccard of the
    df-filtered shingle sets. Unlike dedup_minhash_lsh_pairs there is no
    probabilistic miss: every pair with Jaccard >= t over kept shingles is
    found (sketch recall traded for a wider posting-list join). See
    operators/dedup.py:inverted_jaccard_pairs for the 100 TB skew story
    (the max_df cap bounds the quadratic posting-list blowup)."""
    from ..operators.dedup import inverted_jaccard_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return inverted_jaccard_pairs(corpus, threshold=0.6, max_df=64)


@query(
    "dedup_containment_pairs",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED}),
hashed AS ({_SQL_HASHED}),
kept AS (
  SELECT doc_id, g FROM (
    SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df
    FROM (SELECT doc_id, unnest(list_distinct(hs)) AS g FROM hashed)
  ) WHERE df <= 64
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       ROUND(CAST(s.n_inter AS DOUBLE) / sa.sz, 6) AS cont_a_in_b,
       ROUND(CAST(s.n_inter AS DOUBLE) / sb.sz, 6) AS cont_b_in_a
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE GREATEST(CAST(s.n_inter AS DOUBLE) / sa.sz,
               CAST(s.n_inter AS DOUBLE) / sb.sz) >= 0.9
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs -- the quote/subset-inclusion
    rung of the dedup ladder (operators/dedup.py:
    inverted_containment_pairs). A short document embedded verbatim in a
    long one scores ~1.0 here while its Jaccard stays below any useful
    threshold, so curation pipelines run both. Shares the df-capped
    posting-list plan (and its skew bound) with dedup_ngram_jaccard_pairs;
    emits BOTH directed scores per undirected candidate pair."""
    from ..operators.dedup import inverted_containment_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return inverted_containment_pairs(corpus, threshold=0.9, max_df=64)


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES},
pairs AS ({_SQL_LSH_SELECT}),
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
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the verified
    pair graph via iterative min-label propagation (operators/components.py
    -- one shuffle per round, lineage checkpointed). The oracle computes the
    same components with a recursive-CTE transitive closure: the iterative
    distributed algorithm and the set-theoretic definition must agree."""
    from ..operators.components import connected_components
    from ..operators.dedup import near_dup_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    return connected_components(pairs.select("id_a", "id_b"))


@query(
    "dedup_survivor_stats",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES},
pairs AS ({_SQL_LSH_SELECT}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u),
losers AS (SELECT node FROM comp WHERE node <> component)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM corpus
WHERE doc_id NOT IN (SELECT node FROM losers)
GROUP BY lang
""",
)
def dedup_survivor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup APPLICATION a training pipeline runs: near-dup
    pairs -> connected components -> keep the min-id survivor per cluster ->
    aggregate what remains (operators/components.py dedup_survivors). The
    oracle recomputes survivors via the recursive-CTE transitive closure."""
    from ..operators.components import dedup_survivors
    from ..operators.dedup import near_dup_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    kept = dedup_survivors(corpus, pairs.select("id_a", "id_b"))
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "dedup_simhash",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED}),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS t FROM corpus
),
bits AS (
  SELECT doc_id, j,
         SUM(((({_SQL_HASH.format(s='t')}) >> j) & 1) * 2 - 1) AS s
  FROM tok, generate_series(0, 31) AS g(j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return corpus.select("doc_id", simhash("text", bits=32).alias("simhash"))


@query(
    "dedup_simhash_pairs",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED}),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS t FROM corpus
),
bits AS (
  SELECT doc_id, j,
         SUM(((({_SQL_HASH.format(s='t')}) >> j) & 1) * 2 - 1) AS s
  FROM tok, generate_series(0, 31) AS g(j)
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball search (operators/dedup.py simhash_pairs): the
    banded equi-join finds every pair within Hamming distance 3 of the
    32-bit fingerprint -- the oracle computes the same set by brute-force
    all-pairs, which the pigeonhole guarantee says must agree exactly.

    Bench posture (r5 measurement, sf0.1 warm): this is the corpus's most
    expensive query BECAUSE it is output-bound, not plan-weak -- the
    32-bit config's weakly selective 8-bit band keys admit 169,798 pairs
    vs the production-sized _wide twin's 10,124 (16.8x the answer for
    2.2x the time, 5.9 s vs 2.7 s warm). The plan is identical to _wide;
    ..._pairs_wide is the corpus-scale sizing, and this 32-bit run is
    kept as the dense-answer stress configuration."""
    from ..operators.dedup import simhash_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return simhash_pairs(corpus, max_distance=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "dedup_simhash_pairs_wide",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED}),
tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS t FROM corpus
),
bits AS (
  SELECT doc_id, j,
         SUM(((({_SQL_HASH.format(s='t')}) >> j) & 1) * 2 - 1) AS s
  FROM tok, generate_series(0, 59) AS g(j)
  GROUP BY doc_id, j
),
fp AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale SimHash sizing (operators/dedup.py simhash_pairs
    sizing note): 60-bit fingerprints with 4 bands give r=15-bit band
    keys -> 32,768 buckets per band (the 32-bit config has 256), so
    bucket occupancy -- and with it the quadratic-in-occupancy in-bucket
    candidate work -- stays O(1) per bucket at bench scales. The r11
    sweep measured the previous 48-bit sizing (4096 buckets/band) at
    3.06x on 10x docs: LSH candidate work grows ~n^2/2^r whenever the
    key space is FIXED, so 'corpus-scale' means r must grow with the
    corpus; 60 bits is the widest 4-band width that keeps the BIGINT
    sign bit clear. Same brute-force all-pairs oracle, at 60 bits."""
    from ..operators.dedup import simhash_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return simhash_pairs(corpus, max_distance=3, bits=60).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c='text')}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term
),
dlen AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tf GROUP BY doc_id),
df AS (SELECT term, COUNT(*) AS n_docs FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         (CAST(tf.cnt AS DOUBLE) / dlen.n_tok)
           * (ln((n.total + 1.0) / (df.n_docs + 1.0)) + 1.0) AS score
  FROM tf JOIN dlen USING (doc_id) JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, ROUND(score, 6) AS score, rnk
FROM ranked WHERE rnk <= 3
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF via distributed counts (no vocabulary collected anywhere):
    term frequencies and document frequencies are groupBy aggregates, idf
    is a smooth log, top-3 terms per doc by windowed rank. The doc-count
    'join' is a 1-row broadcast cross join, not a driver constant baked at
    plan time -- at 100 TB all pieces stay distributed."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    from ..functions.text import whitespace_tokens

    tok = docs.select(
        "doc_id", F.explode(whitespace_tokens("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    dlen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("n_docs"))
    n = docs.agg(F.count("*").alias("total"))
    scored = (
        tf.join(dlen, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (
                (F.col("cnt").cast("double") / F.col("n_tok"))
                * (
                    F.log((F.col("total") + 1.0) / (F.col("n_docs") + 1.0))
                    + 1.0
                )
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("score"), "rnk")
    )


# Incremental near-dup ingest fixture: the sink is the base corpus; the
# incoming batch is exact copies (%10), tail-mutated near copies (%25),
# and genuinely-fresh md5-token docs (%7) -- every outcome class planted.
_SQL_INC_BATCH = """
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' near dup' FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 300000,
         'fresh ' || md5(CAST(doc_id AS VARCHAR)) || ' ' || md5(CAST(doc_id + 1 AS VARCHAR))
  FROM documents WHERE doc_id % 7 = 0
"""


@query(
    "ingest_near_dup_incremental",
    oracle=f"""
WITH existing AS (SELECT doc_id, text FROM documents),
newb AS ({_SQL_INC_BATCH}),
eh AS (SELECT DISTINCT md5(text) AS h FROM existing),
nmark AS (
  SELECT n.doc_id, n.text, (md5(n.text) IN (SELECT h FROM eh)) AS is_exact
  FROM newb n
),
rest AS (SELECT doc_id, text FROM nmark WHERE NOT is_exact),
sh_n AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLES.format(c='text')}) AS grams FROM rest
),
sh_e AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLES.format(c='text')}) AS grams FROM existing
),
h_n AS (
  SELECT doc_id, list_transform(grams, s -> {_SQL_HASH.format(s='s')} % {MINHASH_P}) AS hs
  FROM sh_n
),
h_e AS (
  SELECT doc_id, list_transform(grams, s -> {_SQL_HASH.format(s='s')} % {MINHASH_P}) AS hs
  FROM sh_e
),
coeffs AS ({_sql_coeffs(16)}),
sig_n AS (
  SELECT doc_id, i, list_min(list_transform(hs, h -> (h * a + b) % {MINHASH_P})) AS mh
  FROM h_n, coeffs
),
sig_e AS (
  SELECT doc_id, i, list_min(list_transform(hs, h -> (h * a + b) % {MINHASH_P})) AS mh
  FROM h_e, coeffs
),
bands_n AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS band_key
  FROM sig_n GROUP BY doc_id, i // 4
),
bands_e AS (
  SELECT doc_id, i // 4 AS band,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS band_key
  FROM sig_e GROUP BY doc_id, i // 4
),
bands_e_capped AS (
  SELECT doc_id, band, band_key FROM (
    SELECT doc_id, band, band_key,
           COUNT(*) OVER (PARTITION BY band, band_key) AS bw
    FROM bands_e
  ) WHERE bw <= 1000
),
cand AS (
  SELECT DISTINCT n.doc_id AS id_a, e.doc_id AS id_b
  FROM bands_n n JOIN bands_e_capped e USING (band, band_key)
),
ushin AS (
  SELECT doc_id, unnest(grams) AS s FROM sh_n
  UNION ALL
  SELECT doc_id, unnest(grams) AS s FROM sh_e
),
usizes AS (
  SELECT doc_id, len(grams) AS n_sh FROM sh_n
  UNION ALL
  SELECT doc_id, len(grams) AS n_sh FROM sh_e
),
verified AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN ushin x ON x.doc_id = c.id_a
  JOIN ushin y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY c.id_a, c.id_b
),
near AS (
  SELECT DISTINCT v.id_a AS doc_id
  FROM verified v
  JOIN usizes sa ON sa.doc_id = v.id_a
  JOIN usizes sb ON sb.doc_id = v.id_b
  WHERE CAST(v.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - v.n_inter) >= 0.5
),
outcomes AS (
  SELECT m.doc_id,
         CASE WHEN m.is_exact THEN 'exact_dup'
              WHEN m.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
              ELSE 'ingest' END AS outcome
  FROM nmark m
)
SELECT outcome, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM outcomes GROUP BY outcome
""",
)
def ingest_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest: classify an incoming batch against the
    already-ingested corpus (exact content hash -> LSH band join vs the
    sink's band table -> Jaccard verify; outcome precedence exact_dup >
    near_dup > ingest). Extends the reference's load-bearing exact-by-id
    anti-join (etl_service/main.py:175) to content near-duplicates with
    batch-proportional cost -- the whole corpus is never re-paired. The
    id_sum pins the exact per-document classification."""
    from ..operators.incremental import incremental_near_dup

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.select("doc_id", "text")
    fresh_text = F.concat_ws(
        " ",
        F.lit("fresh"),
        F.md5(F.col("doc_id").cast("string")),
        F.md5((F.col("doc_id") + 1).cast("string")),
    )
    new_batch = spread(
        existing.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .unionAll(
            existing.filter(F.col("doc_id") % 25 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" near dup")).alias("text"),
            )
        )
        .unionAll(
            existing.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                fresh_text.alias("text"),
            )
        )
    )
    classified = incremental_near_dup(
        new_batch, existing, threshold=0.5, num_hashes=16, bands=4
    )
    return classified.groupBy("outcome").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("doc_id").cast("bigint")).alias("id_sum"),
    )


@query(
    "dedup_triangle_counts",
    oracle=f"""
WITH {_SQL_LSH_CTES},
pairs AS ({_SQL_LSH_SELECT}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs),
tri AS (
  SELECT e1.a, e1.b, e2.c
  FROM e e1
  JOIN (SELECT a AS b, b AS c FROM e) e2 USING (b)
  JOIN (SELECT a, b AS c FROM e) e3 USING (a, c)
)
SELECT node, COUNT(*) AS n_triangles FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) GROUP BY node
""",
)
def dedup_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the verified near-dup pair graph: how many
    MUTUALLY-similar triples each document belongs to (operators/
    components.py triangle_counts). Dense duplicate blobs (an original
    with its exact and near copies) close triangles; borderline chains
    don't -- a redundancy-density signal the cluster id alone can't give,
    and the clustering-coefficient building block. The canonical id_a <
    id_b edge orientation finds each triangle exactly once via two hash
    equi-joins; the oracle enumerates identically over the same LSH pair
    CTEs."""
    from ..operators.components import triangle_counts
    from ..operators.dedup import near_dup_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    return triangle_counts(pairs.select("id_a", "id_b"))


def pagerank_rounds_sql(
    edges_head: str,
    iters: int = 5,
    damping_pct: int = 85,
    unit: int = 10**12,
) -> str:
    """Unrolled-CTE twin of operators/components.pagerank_units over ANY
    edge source: ``edges_head`` is the `WITH ...` prefix that must end by
    defining `edges(u, v)` symmetrized-distinct; the deg/init/round CTEs
    and final select are shared (deterministic like the BPE unroll --
    DuckDB's `//` IS the bigint floor division `div` Spark runs, so
    cells match bit-for-bit, no float tolerance)."""
    head = f"""{edges_head},
deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
nn AS MATERIALIZED (SELECT CAST({unit} AS BIGINT) // COUNT(*) AS init FROM deg),
pr0 AS MATERIALIZED (SELECT u, nn.init AS pr FROM deg, nn)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
pr{k} AS MATERIALIZED (
  SELECT i.u,
         ({100 - damping_pct} * nn.init + {damping_pct} * i.inflow) // 100 AS pr
  FROM (
    SELECT e.v AS u, SUM(p.pr // d.deg) AS inflow
    FROM edges e
    JOIN pr{k - 1} p ON p.u = e.u
    JOIN deg d ON d.u = e.u
    GROUP BY e.v
  ) i, nn
)""")
    tail = f"""
SELECT u AS node, CAST(pr AS BIGINT) AS pr_units FROM pr{iters}"""
    return head + "".join(rounds) + tail


def _pagerank_oracle(iters: int = 5, damping_pct: int = 85, unit: int = 10**12) -> str:
    """The LSH-near-dup-graph instantiation of pagerank_rounds_sql."""
    head = f"""WITH {_SQL_LSH_CTES},
pairs AS ({_SQL_LSH_SELECT}),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
)"""
    return pagerank_rounds_sql(head, iters, damping_pct, unit)


@query("dedup_pagerank", oracle=_pagerank_oracle(5))
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified near-dup pair graph
    (operators/components.py pagerank_units): which documents sit at the
    CENTER of duplication clusters -- the canonical-representative signal
    (highest-rank member = the version most other variants are near),
    complementing the cluster id (membership) and triangle count
    (density). Third iterative driver-loop operator after components and
    BPE; exact integer fixed-point makes the k=5 unrolled-CTE oracle a
    bit-for-bit match."""
    from ..operators.components import pagerank_units
    from ..operators.dedup import near_dup_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    return pagerank_units(pairs.select("id_a", "id_b"))


def _ppr_oracle(
    iters: int = 5, damping_pct: int = 85, unit: int = 10**12
) -> str:
    """Unrolled-CTE twin of operators/components.ppr_units: the
    _pagerank_oracle unroll with the restart mass confined to the seed
    slice (original docs with doc_id % 10 = 0 — the nodes whose exact
    copies guarantee graph membership). Bigint floor division
    throughout, so cells match Spark bit-for-bit."""
    head = f"""WITH {_SQL_LSH_CTES},
pairs AS ({_SQL_LSH_SELECT}),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
deg AS MATERIALIZED (
  SELECT u, COUNT(*) AS deg, (u % 10 = 0 AND u < 100000) AS s
  FROM edges GROUP BY u
),
ns AS MATERIALIZED (
  SELECT CAST({unit} AS BIGINT) // COUNT(*) AS init FROM deg WHERE s
),
pr0 AS MATERIALIZED (
  SELECT u, CASE WHEN s THEN ns.init ELSE CAST(0 AS BIGINT) END AS pr
  FROM deg, ns
)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
pr{k} AS MATERIALIZED (
  SELECT i.u,
         (CASE WHEN d2.s THEN {100 - damping_pct} * ns.init ELSE 0 END
          + {damping_pct} * i.inflow) // 100 AS pr
  FROM (
    SELECT e.v AS u, SUM(p.pr // d.deg) AS inflow
    FROM edges e
    JOIN pr{k - 1} p ON p.u = e.u
    JOIN deg d ON d.u = e.u
    GROUP BY e.v
  ) i JOIN deg d2 ON d2.u = i.u, ns
)""")
    tail = f"""
SELECT d.u AS node, CAST(p.pr AS BIGINT) AS ppr_units, d.s AS is_seed
FROM pr{iters} p JOIN deg d ON d.u = p.u"""
    return head + "".join(rounds) + tail


@query("graph_ppr_seed_expand", oracle=_ppr_oracle(5))
def graph_ppr_seed_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seed expansion over the near-dup graph
    (operators/components.ppr_units): restart mass on the TRUSTED slice
    (original docs with doc_id % 10 == 0), rank = proximity to that
    slice through the similarity graph — the WebText-style
    curate-by-association selection (documents similar to a vetted
    set score high; isolated or far documents decay geometrically),
    complementing global PageRank's topic-free centrality. Same exact
    integer fixed-point family as dedup_pagerank (unit = 1e12, 5
    rounds, bigint floor divisions), so the k=5 unrolled-CTE oracle is
    a bit-for-bit match; join strategy pinned SHUFFLE_HASH with
    key-repartitioned checkpoints (the r11 HITS broadcast-flip
    lesson)."""
    from ..operators.components import ppr_units
    from ..operators.dedup import near_dup_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    seeds = corpus.where(
        (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
    ).select(F.col("doc_id").alias("u"))
    return ppr_units(pairs.select("id_a", "id_b"), seeds)


@query(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
WITH corpus AS ({_SQL_AUGMENTED}),
hashed AS ({_SQL_HASHED}),
toks AS (SELECT doc_id, unnest(list_distinct(hs)) AS g FROM hashed),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       ROUND(CAST(s.n_inter AS DOUBLE) / (sa.sz + sb.sz - s.n_inter), 6) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE 2 * s.n_inter >= sa.sz + sb.sz - s.n_inter
""",
)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT full-shingle-space Jaccard >= 1/2 pairs via PREFIX FILTERING
    (operators/dedup.py:prefix_filter_jaccard_pairs): the index holds
    only each document's rare-token prefix, yet the answer is provably
    identical to the oracle's FULL uncapped posting self-join -- the
    All-Pairs/PPJoin completeness lemma, checked here as an operator
    contract (the oracle runs the naive full join; the Spark side runs
    the pruned plan; every pair must agree). The scale rung above the
    df-cap twins: those trade boilerplate tokens for bounded joins; this
    keeps exact semantics and still never joins the frequent-token
    postings (they sit in suffixes). Integer threshold arithmetic
    end-to-end -- the float compare exists only in the displayed
    score."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    return prefix_filter_jaccard_pairs(
        corpus, threshold_num=1, threshold_den=2
    )


_SQL_PRED_LANG = f"""
  SELECT doc_id, lang,
         CASE WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
              WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
              WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
              WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS pred_lang
  FROM (
    SELECT doc_id, lang,
           {_SQL_LANG_SCORE.format(m="'the','and','of','to','is'")} AS s_en,
           {_SQL_LANG_SCORE.format(m="'el','la','de','que','los'")} AS s_es,
           {_SQL_LANG_SCORE.format(m="'der','die','und','das','ist'")} AS s_de,
           {_SQL_LANG_SCORE.format(m="'le','la','les','des','est'")} AS s_fr,
           {_SQL_LANG_SCORE.format(m="'de5','shi4','le5','zai4','he2'")} AS s_zh
    FROM documents
  )
"""


@query(
    "text_langid_eval",
    oracle=f"""
WITH pred AS ({_SQL_PRED_LANG}),
cm AS (
  SELECT lang, pred_lang, COUNT(*) AS n FROM pred
  WHERE lang IS NOT NULL GROUP BY 1, 2
),
classes AS (SELECT DISTINCT lang AS c FROM cm),
stats AS (
  SELECT c,
         COALESCE((SELECT SUM(n) FROM cm WHERE lang = c AND pred_lang = c), 0) AS tp,
         COALESCE((SELECT SUM(n) FROM cm WHERE lang <> c AND pred_lang = c), 0) AS fp,
         COALESCE((SELECT SUM(n) FROM cm WHERE lang = c AND pred_lang <> c), 0) AS fn
  FROM classes
)
SELECT c AS lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision_,
       ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall_,
       ROUND(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0), 6) AS f1
FROM stats
""",
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation harness over the language-ID heuristic:
    per-class confusion counts (tp/fp/fn against the fixture's labelled
    lang column) and the precision/recall/F1 they imply -- the eval
    query every model-in-the-loop curation pipeline runs before trusting
    a filter. Counts are exact integers from ONE groupBy over the
    (actual, predicted) pairs; the metrics are single bigint ratios
    rounded at the end (NULL, not NaN, for undefined precision on
    never-predicted classes). Reuses the exact predicted_lang expression
    the text_lang_id query gates, so this is also a cross-check that the
    heuristic's quality is itself reproducible."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    pred = docs.where(F.col("lang").isNotNull()).select(
        "lang", predicted_lang("text").alias("pred_lang")
    )
    cm = pred.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    cm = cm.localCheckpoint()
    classes = cm.select(F.col("lang").alias("c")).distinct()
    tp = cm.where(F.col("lang") == F.col("pred_lang")).select(
        F.col("lang").alias("c"), F.col("n").alias("tp")
    )
    fp = (
        cm.where(F.col("lang") != F.col("pred_lang"))
        .groupBy(F.col("pred_lang").alias("c"))
        .agg(F.sum("n").alias("fp"))
    )
    fn = (
        cm.where(F.col("lang") != F.col("pred_lang"))
        .groupBy(F.col("lang").alias("c"))
        .agg(F.sum("n").alias("fn"))
    )
    stats = (
        classes.join(tp, "c", "left")
        .join(fp, "c", "left")
        .join(fn, "c", "left")
        .select(
            "c",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("long").alias("fn"),
        )
    )
    tp_, fp_, fn_ = F.col("tp"), F.col("fp"), F.col("fn")
    return stats.select(
        F.col("c").alias("lang"),
        "tp",
        "fp",
        "fn",
        F.round(
            tp_.cast("double") / F.nullif(tp_ + fp_, F.lit(0)), 6
        ).alias("precision_"),
        F.round(
            tp_.cast("double") / F.nullif(tp_ + fn_, F.lit(0)), 6
        ).alias("recall_"),
        F.round(
            (2 * tp_).cast("double") / F.nullif(2 * tp_ + fp_ + fn_, F.lit(0)),
            6,
        ).alias("f1"),
    )


@query(
    "curation_leakage_safe_split",
    oracle=f"""
WITH RECURSIVE {_SQL_LSH_CTES},
pairs AS ({_SQL_LSH_SELECT}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (
  SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
),
base AS (
  SELECT c.doc_id, COALESCE(m.component, c.doc_id) AS rep
  FROM corpus c LEFT JOIN comp m ON m.node = c.doc_id
)
SELECT doc_id, rep,
       CASE WHEN hx < 8 THEN 'train' WHEN hx = 8 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, rep,
         ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15))::BIGINT % 10
           AS hx
  FROM base
)
""",
)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: a doc's split is a hash
    of its near-dup CLUSTER representative, not of the doc itself -- so
    every member of a duplicate cluster lands in the same split and an
    eval doc can never have a training-set near-copy (the
    train-test-contamination failure mode document-level hashing
    invites). Composes three gated families: MinHash-LSH pair
    generation, iterative connected components, and the deterministic
    md5-prefix hash the KMV sampler uses (operators/kmv.kmv_hash) --
    split assignment is reproducible across engines, runs, and
    partitionings, never rand(). Singleton docs are their own
    representative; 8/1/1 split by hash decile."""
    from ..operators.components import connected_components
    from ..operators.dedup import near_dup_pairs
    from ..operators.kmv import kmv_hash

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(corpus, threshold=0.5, num_hashes=16, bands=4)
    comp = connected_components(pairs.select("id_a", "id_b"))
    base = (
        corpus.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("rep"),
        )
    )
    hx = F.pmod(kmv_hash("rep"), F.lit(10))
    return base.select(
        "doc_id",
        "rep",
        F.when(hx < 8, "train").when(hx == 8, "val").otherwise("test")
        .alias("split"),
    )


@query(
    "text_sparse_cosine_topk",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_SHINGLES.format(c='text')}) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term
),
dlen AS (SELECT doc_id, SUM(cnt) AS n_tok FROM tf GROUP BY doc_id),
df AS (SELECT term, COUNT(*) AS n_docs FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS total FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(ROUND((CAST(tf.cnt AS DOUBLE) / dlen.n_tok)
           * (ln((n.total + 1.0) / (df.n_docs + 1.0)) + 1.0), 6)
           AS DECIMAL(18,6)) AS w6
  FROM tf JOIN dlen USING (doc_id) JOIN df USING (term) CROSS JOIN n
  WHERE df.n_docs <= 64
),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(w6 * w6) AS DOUBLE)) AS nrm FROM w
  GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.w6 * b.w6) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cos AS (
  SELECT id_a, id_b,
         ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
  FROM dots JOIN norms na ON na.doc_id = id_a
            JOIN norms nb ON nb.doc_id = id_b
)
SELECT id_a, id_b, cosine FROM cos
ORDER BY cosine DESC, id_a, id_b LIMIT 20
""",
)
def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-vector cosine similarity join: the TF-IDF twin of the
    dense embedding kNN -- pairwise cosine computed entirely through the
    posting-list equi-join (a pair's dot product only materializes where
    the docs SHARE a dimension). The sparse space is word TRIGRAMS (the
    fixture's whitespace vocabulary is ~31 terms -- every word is a
    stopword, so words carry no signal; shingles give 16k+ dims with
    median df 1). An ABSOLUTE document-frequency cap (df <= 64, the
    dedup family's max_df default) drops shingles whose postings would
    quadratically dominate the join: with the cap absolute, the longest
    surviving posting is a CONSTANT however large the corpus, so the
    pair join is bounded by 64 * sum(df) -- linear in corpus size --
    where the previous relative cap (df <= total/10) let posting lengths
    grow with the corpus (measured 3.23x wall at 10x data, SCALE_r07).
    The capped space IS the vector space (norms over capped postings, so
    cosine stays a true cosine in it). Determinism across engines:
    weights round to 6dp then become DECIMAL(18,6), so the dot/norm
    SUMS are exact integers-at-scale (addition-order-free) and the only
    float ops left -- sqrt, one divide, final round -- are pointwise
    IEEE. Top-20 pairs via TakeOrdered on the rounded value with id
    tiebreaks. No vocabulary, norm table, or pair set ever crosses the
    driver."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    from ..functions.text import (
        ngram_shingles_from_tokens,
        whitespace_tokens,
    )

    tok = docs.select(
        "doc_id", whitespace_tokens("text").alias("_toks")
    ).select(
        "doc_id",
        F.explode(ngram_shingles_from_tokens("_toks", 3)).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("cnt"))
    dlen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_tok"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("n_docs"))
    n = docs.agg(F.count("*").alias("total"))
    w = (
        tf.join(dlen, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .where(F.col("n_docs") <= 64)
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("cnt").cast("double") / F.col("n_tok"))
                * (
                    F.log((F.col("total") + 1.0) / (F.col("n_docs") + 1.0))
                    + 1.0
                ),
                6,
            ).cast("decimal(18,6)").alias("w6"),
        )
        # The posting table feeds the norm aggregate AND both sides of
        # the pair join; a localCheckpoint pin was A/B-measured and
        # REJECTED: neutral at sf0.1 and 1.6x SLOWER at sf1 (16.6 s vs
        # 10.2 s, 32-core bench session) -- the materialization barrier
        # costs more than the re-derived subtree, which shuffle-exchange
        # reuse already partially dedupes. On a real cluster the
        # equivalent explicit reuse is a persisted posting TABLE shared
        # across queries, not a per-query checkpoint.
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w6") * F.col("w6")).cast("double")).alias("nrm")
    )
    # Pair generation via per-term posting ARRAYS instead of a w |x| w
    # self-join (VERDICT r8 item #8): the df cap already bounds every
    # posting list at 64 structs, so collect_list is safe by the same
    # contract that bounds the join, and one groupBy-by-term shuffle +
    # an in-stage HOF pair expansion replaces TWO shuffles of the full
    # posting table plus their sort-merge sorts. array_sort orders each
    # posting by doc_id (first struct field), so slice-based expansion
    # yields exactly the a.doc_id < b.doc_id half-pairs. The dot SUM is
    # over DECIMAL(18,6) products -- addition-order-free -- so this is
    # plan-only: the DuckDB oracle keeps the relational self-join
    # formulation and the values match bit-for-bit. Same-session A/B
    # (best-of-3 noop, 32 cores): sf0.1 self-join 2.81 s vs arrays
    # 2.15 s; sf1 statistically tied (8.07 vs 8.85, inside the box's
    # +/-20% noise band) -- so arrays win the corpus bench and the 10x
    # ratio both. Durable curve: SCALE_r11 2.1x idle median (band
    # 1.51-3.24 -- the small side alone swings 2.4x between idle
    # sequences while the known-linear control reads 0.62x, so the
    # ratio carries the instrument's band; earlier 1.0x/2.41x prose
    # readings were single-instance samples of the same spread).
    posts = w.groupBy("term").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "w6"))
        ).alias("ps")
    )
    pair = F.explode(
        F.flatten(
            F.expr(
                "transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x.doc_id AS id_a, y.doc_id AS id_b, "
                "x.w6 * y.w6 AS prod)))"
            )
        )
    ).alias("p")
    dots = (
        posts.where(F.size("ps") >= 2)
        .select(pair)
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
        .agg(F.sum("p.prod").cast("double").alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("id_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(20)
    )


@query(
    "text_pmi_collocations",
    oracle=r"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents
  WHERE trim(lower(text)) <> ''
),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS p
  FROM toks WHERE len(ws) >= 2
),
pairs AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2),
firsts AS (SELECT p.a AS a, COUNT(*) AS c_a FROM bg GROUP BY 1),
seconds AS (SELECT p.b AS b, COUNT(*) AS c_b FROM bg GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM bg),
scored AS (
  SELECT pairs.a, pairs.b, c_ab,
         ln(CAST(c_ab AS DOUBLE) * tot.n / (CAST(c_a AS DOUBLE) * c_b)) AS pmi
  FROM pairs
  JOIN firsts USING (a)
  JOIN seconds USING (b)
  CROSS JOIN tot
  WHERE c_ab >= 5
),
ranked AS (
  SELECT a, b, c_ab, pmi,
         ROW_NUMBER() OVER (ORDER BY pmi DESC, a, b) AS rank
  FROM scored
)
SELECT a AS w1, b AS w2, CAST(c_ab AS BIGINT) AS n_pair,
       CAST(rank AS BIGINT) AS rank, ROUND(pmi, 6) AS pmi
FROM ranked WHERE rank <= 20
""",
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: the top-20
    adjacent word pairs whose co-occurrence most exceeds positional
    independence -- pmi = ln(c_ab * N / (c_a * c_b)) over the bigram
    stream, with c_a / c_b the word's frequency in first / second
    position (the directional convention, so the score is exactly
    log-lift of the observed bigram over the independence expectation).
    The phrase-detection primitive (word2vec's phrase pass, n-gram
    vocabulary induction) beside the corpus's other distribution
    profiles (Zipf fit, heavy hitters, TF-IDF).

    Min-count 5 is the standard PMI noise floor (rare pairs otherwise
    dominate the ranking). Bigrams build with the zip_with-over-slices
    shape (the measured O(tokens^2)-avoiding idiom from
    text_cms_heavy_hitters); counts are exact BIGINTs, so pmi is one
    libm ln on identical integer ratios in both engines, rounded to
    6dp; ranking carries a full lexicographic tiebreak. Plan: one
    tokenize/explode pass, three hash aggregates (pair/first/second),
    two broadcast dimension joins, a top-20 window over the
    min-count-surviving pairs only."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = (
        docs.where(F.trim(F.lower(F.col("text"))) != "")
        .select(whitespace_tokens("text").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    bg = ws.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pairs = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    firsts = bg.groupBy("a").agg(F.count("*").alias("c_a"))
    seconds = bg.groupBy("b").agg(F.count("*").alias("c_b"))
    tot = bg.agg(F.count("*").alias("n"))
    scored = (
        pairs.where(F.col("c_ab") >= 5)
        .join(F.broadcast(firsts), "a")
        .join(F.broadcast(seconds), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "c_ab",
            F.log(
                F.col("c_ab").cast("double")
                * F.col("n")
                / (F.col("c_a").cast("double") * F.col("c_b"))
            ).alias("pmi"),
        )
    )
    rank = F.row_number().over(
        W.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
    )
    return (
        scored.withColumn("rank", rank.cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("a").alias("w1"),
            F.col("b").alias("w2"),
            F.col("c_ab").cast("bigint").alias("n_pair"),
            "rank",
            F.round("pmi", 6).alias("pmi"),
        )
    )


def _textrank_oracle(iters: int = 5, damping_pct: int = 85, unit: int = 10**12) -> str:
    """Unrolled-CTE twin of pagerank_units over the word-adjacency graph
    (the _pagerank_oracle scheme with a TextRank edge builder: distinct
    adjacent-word pairs with count >= 2, symmetrized)."""
    head = rf"""WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents
  WHERE trim(lower(text)) <> ''
),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS p
  FROM toks WHERE len(ws) >= 2
),
raw AS (
  SELECT p.a AS a, p.b AS b, COUNT(*) AS c FROM bg WHERE p.a <> p.b GROUP BY 1, 2
),
pairs AS (SELECT a, b FROM raw WHERE c >= 2),
edges AS MATERIALIZED (
  SELECT a AS u, b AS v FROM pairs
  UNION
  SELECT b AS u, a AS v FROM pairs
),
deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
nn AS MATERIALIZED (SELECT CAST({unit} AS BIGINT) // COUNT(*) AS init FROM deg),
pr0 AS MATERIALIZED (SELECT u, nn.init AS pr FROM deg, nn)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
pr{k} AS MATERIALIZED (
  SELECT i.u,
         ({100 - damping_pct} * nn.init + {damping_pct} * i.inflow) // 100 AS pr
  FROM (
    SELECT e.v AS u, SUM(p.pr // d.deg) AS inflow
    FROM edges e
    JOIN pr{k - 1} p ON p.u = e.u
    JOIN deg d ON d.u = e.u
    GROUP BY e.v
  ) i, nn
)""")
    tail = f"""
SELECT u AS word, CAST(pr AS BIGINT) AS pr_units,
       CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, u) AS BIGINT) AS rank
FROM pr{iters}
QUALIFY rank <= 20"""
    return head + "".join(rounds) + tail


@query("text_textrank_keywords", oracle=_textrank_oracle(5))
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    centrality over the word co-occurrence graph -- nodes are words,
    edges connect adjacent words (window 2, the paper's default),
    unweighted and symmetrized, with a count >= 2 noise floor bounding
    the edge list to recurring collocations. The top-20 words by rank
    are the corpus's keywords: the graph-centrality complement to the
    frequency (heavy hitters), contrast (TF-IDF), and association (PMI)
    views of the same token stream.

    Reuses pagerank_units' exact integer fixed-point verbatim, so the
    unrolled-CTE oracle matches bit-for-bit with no float tolerance.
    Plan: the PMI bigram pass (zip_with over slices), one pair
    aggregate, then 5 vocabulary-sized PR rounds -- the iterative work
    is O(vocab-graph), never O(corpus), since the corpus collapses to
    distinct recurring word pairs before the first round."""
    from ..operators.components import pagerank_units

    docs = spread(load_table(spark, sf_dir, "documents"))
    ws = (
        docs.where(F.trim(F.lower(F.col("text"))) != "")
        .select(whitespace_tokens("text").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    bg = ws.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, F.size("ws") - 1),
                F.slice("ws", 2, F.size("ws") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pairs = (
        bg.where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )
    pr = pagerank_units(pairs)
    rank = F.row_number().over(W.orderBy(F.desc("pr_units"), F.asc("node")))
    return (
        pr.withColumn("rank", rank.cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(F.col("node").alias("word"), "pr_units", "rank")
    )


@query(
    "dedup_incremental_index_stats",
    oracle=f"""
WITH {_SQL_LSH_CTES}
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT band_key) AS BIGINT) AS n_buckets,
       CAST(MAX(bucket_sz) AS BIGINT) AS max_bucket
FROM (
  SELECT band, band_key, COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_sz
  FROM bands
)
GROUP BY band
""",
)
def dedup_incremental_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTALLY-MAINTAINED MinHash-LSH dedup index, gated
    against the one-shot banding spec: the corpus arrives as two
    micro-batches through the real snapshot-pointer sink
    (streaming/dedup_index.apply_dedup_batch -- the exact code path
    streaming maintenance runs), and the final bucket table's per-band
    occupancy profile (rows, distinct buckets, largest bucket) must
    equal the batch LSH pipeline's own banding relationally rebuilt.
    Proves the production ingest-dedup path -- new documents bucket
    against the index without rescanning accepted documents -- computes
    the same index a from-scratch banding would. The candidate-join
    face (find_near_dup_candidates == batch LSH candidate set) and the
    replay/overlap/restart contracts are pytest-pinned
    (tests/test_streaming.py)."""
    from ..fixtures import fresh_dir
    from ..streaming.dedup_index import apply_dedup_batch, read_dedup_index

    corpus = _augmented_corpus(load_table(spark, sf_dir, "documents"))

    # the incremental ingest-dedup path (two-batch index maintenance) IS
    # the gated operator: a fresh dir, so it runs inside the timed region
    # every invocation
    root = fresh_dir("lsh_index", sf_dir)
    apply_dedup_batch(spark, corpus.where(F.col("doc_id") % 2 == 0), 0, root)
    apply_dedup_batch(spark, corpus.where(F.col("doc_id") % 2 == 1), 1, root)
    idx = read_dedup_index(spark, root)
    from pyspark.sql import Window as W

    sz = F.count("*").over(W.partitionBy("band", "band_key"))
    return (
        idx.withColumn("bucket_sz", sz)
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("band_key").cast("bigint").alias("n_buckets"),
            F.max("bucket_sz").cast("bigint").alias("max_bucket"),
        )
    )


def _lsh_tuning_oracle(widths: list[int]) -> str:
    """Per-config banding CTEs over ONE shared signature build: for each
    rows-per-band width r, bucket on i // r, mirror the operator's
    2..max_bucket membership cap, and score candidates against the
    PLANTED duplicate pairs (the er_quality_eval ground-truth pattern:
    both engines construct the truth identically, so recall is exact)."""
    head = f"""WITH corpus AS ({_SQL_AUGMENTED}),
shingled AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLES.format(c='text')}) AS grams FROM corpus
),
hashed AS (
  SELECT doc_id, list_transform(grams, s -> {_SQL_HASH.format(s='s')} % {MINHASH_P}) AS hs
  FROM shingled
),
coeffs AS ({_sql_coeffs(16)}),
sigs AS (
  SELECT doc_id, i,
         list_min(list_transform(hs, h -> (h * a + b) % {MINHASH_P})) AS mh
  FROM hashed, coeffs
),
truth AS (
  SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 'exact' AS kind
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, doc_id + 200000, 'near'
  FROM documents WHERE doc_id % 25 = 0
)"""
    legs = []
    for r in widths:
        head += f""",
bands_{r} AS MATERIALIZED (
  SELECT doc_id, i // {r} AS band,
         string_agg(CAST(mh AS VARCHAR), '_' ORDER BY i) AS band_key
  FROM sigs GROUP BY doc_id, i // {r}
),
cand_{r} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands_{r} a
  JOIN (SELECT band, band_key FROM bands_{r}
        GROUP BY band, band_key HAVING COUNT(*) BETWEEN 2 AND 1000) ok
    ON ok.band = a.band AND ok.band_key = a.band_key
  JOIN bands_{r} b ON b.band = a.band AND b.band_key = a.band_key
   AND a.doc_id < b.doc_id
)"""
        legs.append(f"""
SELECT CAST({r} AS BIGINT) AS rows_per_band,
       CAST({16 // r} AS BIGINT) AS n_bands,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{r}) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{r} c
        JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_found,
       ROUND((SELECT COUNT(*) FROM cand_{r} c
              JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b)
             / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 6) AS recall""")
    return head + "\nUNION ALL\n".join(legs)


@query("dedup_lsh_tuning_curve", oracle=_lsh_tuning_oracle([2, 4, 8]))
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve, MEASURED (the tuning harness behind every
    MinHash deployment): with 16 minhashes, candidate recall against the
    planted duplicate pairs and candidate-set size for rows-per-band
    r in {2, 4, 8} -- P(band collision) = jaccard^r, so narrow bands
    (r=2) catch low-similarity pairs at higher candidate cost and wide
    bands (r=8) are near-exact-only; this query turns that theory into
    the gated numbers an operator would pick parameters from (the
    eval-harness family: er_quality_eval, retrieval_quality_eval,
    ann_recall_scoreboard). ONE signature build (the gated minhash
    pipeline) serves all three configs; per config one banding
    aggregate + in-bucket pair expansion under the operator's own
    2..1000 bucket cap, scored by an equi-join against the
    deterministic planted-pair truth. Scale: identical posture to the
    gated pair generator x a constant 3."""
    from ..operators.dedup import grams_stage, lsh_candidate_pairs_from_grams

    docs = load_table(spark, sf_dir, "documents")
    corpus = _augmented_corpus(docs)
    grams = grams_stage(corpus, "text", "doc_id", 3).localCheckpoint()
    truth = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 100000).alias("id_b"),
        )
        .unionAll(
            docs.where(F.col("doc_id") % 25 == 0).select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 200000).alias("id_b"),
            )
        )
        .localCheckpoint()
    )
    out = None
    for r in [2, 4, 8]:
        cand = lsh_candidate_pairs_from_grams(
            grams, "doc_id", num_hashes=16, bands=16 // r
        )
        found = cand.join(truth, ["id_a", "id_b"])
        n_tr = truth.select(F.count("*").cast("bigint").alias("n_truth"))
        leg = (
            cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
            .crossJoin(
                F.broadcast(
                    found.agg(F.count("*").cast("bigint").alias("n_found"))
                )
            )
            .crossJoin(F.broadcast(n_tr))
            .select(
                F.lit(r).cast("bigint").alias("rows_per_band"),
                F.lit(16 // r).cast("bigint").alias("n_bands"),
                "n_candidates",
                "n_truth",
                "n_found",
                F.round(
                    F.col("n_found").cast("double") / F.col("n_truth"), 6
                ).alias("recall"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


@query(
    "text_novelty_curve",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(list_transform({_SQL_SHINGLES.format(c='text')},
                                       s -> {_SQL_HASH.format(s='s')})) AS gh
  FROM documents
),
firsts AS (
  SELECT gh, MIN(doc_id) AS first_doc FROM tok GROUP BY gh
),
nd AS (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
intro AS (
  SELECT CAST(first_doc * 10 // n_docs AS BIGINT) AS decile,
         CAST(COUNT(*) AS BIGINT) AS new_grams
  FROM firsts CROSS JOIN nd GROUP BY 1
),
vol AS (
  SELECT CAST(doc_id * 10 // n_docs AS BIGINT) AS decile,
         CAST(SUM(len({_SQL_SHINGLES.format(c='text')})) AS BIGINT)
           AS gram_instances
  FROM documents CROSS JOIN nd GROUP BY 1
)
SELECT v.decile, v.gram_instances,
       COALESCE(i.new_grams, 0) AS new_grams,
       CAST(SUM(COALESCE(i.new_grams, 0)) OVER (
         ORDER BY v.decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS vocab_so_far,
       ROUND(COALESCE(i.new_grams, 0)
             / CAST(v.gram_instances AS DOUBLE), 6) AS novelty_rate
FROM vol v LEFT JOIN intro i ON i.decile = v.decile
""",
)
def text_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth / novelty curve (the Heaps'-law diagnostic
    every corpus-curation report carries): sweep the corpus in a
    deterministic doc order, and per doc-id decile report how many
    NEVER-SEEN-BEFORE word trigrams appear vs total trigram volume --
    the novelty rate. A healthy diverse corpus keeps the tail rate
    well above zero; a saturating curve means additional data is
    re-treading the same n-grams (diminishing returns for training --
    the corpus-level twin of the per-doc repetition scores).
    First-occurrence is one MIN aggregate per gram; gram VOLUME per
    decile needs no explode at all -- and no ARRAY at all: shingle-list
    length is pure token-count arithmetic, max(k-2, 1) (r10's form
    built the shingle array from an inline token expression just to
    size() it -- the documented O(tokens^2)-per-row HOF hazard, and
    that one leg was the real super-linear term behind the 2.39-3.94x
    r9-r11 scale readings); deciles come from the max-doc-id 1-row
    broadcast; the cumulative vocabulary is a 10-row window. Exact
    integers plus one rounded rate. Scale: ONE linear explode +
    hash-keyed MIN aggregate is the whole cost (SCALE_r11 post-fix
    1.75x idle median at 10x, sf1 wall 3.52 -> 1.96 s; the 10-row
    output and 8-byte shuffle keys leave nothing structural to cap)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    from ..functions.text import ngram_shingles_from_tokens, whitespace_tokens

    # grams hash to 60-bit ints BEFORE the explode/shuffle (the kmv_hash
    # idiom, identical in the oracle): the first-occurrence aggregate
    # shuffles 8-byte keys instead of ~20-byte trigram strings.
    from ..operators.kmv import kmv_hash

    tok = docs.select(
        "doc_id", whitespace_tokens("text").alias("_t")
    ).select(
        "doc_id",
        F.explode(
            F.transform(
                ngram_shingles_from_tokens("_t", 3), lambda s: kmv_hash(s)
            )
        ).alias("gh"),
    )
    firsts = tok.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    nd = docs.agg((F.max("doc_id") + 1).alias("n_docs"))
    intro = (
        firsts.crossJoin(F.broadcast(nd))
        .groupBy(
            F.expr("CAST(first_doc * 10 div n_docs AS BIGINT)").alias(
                "decile"
            )
        )
        .agg(F.count("*").cast("bigint").alias("new_grams"))
    )
    # shingle-list LENGTH is pure arithmetic on the token count --
    # max(k-2, 1) for k >= 1, and 1 for k == 0 (the whole-text shingle
    # of ngram_shingles_from_tokens) -- so the volume leg builds NO
    # array at all. The r10 form called ngram_shingles_from_tokens on
    # an INLINE whitespace_tokens and took size(): the documented HOF
    # hazard (the lambda re-splits the text per shingle, O(tokens^2)
    # per row), measured 0.67 s -> 2.2 s at 10x as the super-linear
    # term behind SCALE_r09/r10's 2.39-3.94x novelty readings.
    vol = (
        docs.select(
            "doc_id",
            F.greatest(
                F.size(whitespace_tokens("text")) - 2, F.lit(1)
            ).alias("n_grams"),
        )
        .crossJoin(F.broadcast(nd))
        .groupBy(
            F.expr("CAST(doc_id * 10 div n_docs AS BIGINT)").alias("decile")
        )
        .agg(F.sum("n_grams").cast("bigint").alias("gram_instances"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        vol.join(intro, "decile", "left")
        .select(
            "decile",
            "gram_instances",
            F.coalesce(F.col("new_grams"), F.lit(0)).alias("new_grams"),
        )
        .select(
            "*",
            F.sum("new_grams").over(w).cast("bigint").alias("vocab_so_far"),
        )
        .select(
            "decile",
            "gram_instances",
            "new_grams",
            "vocab_so_far",
            F.round(
                F.col("new_grams") / F.col("gram_instances").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
    )
