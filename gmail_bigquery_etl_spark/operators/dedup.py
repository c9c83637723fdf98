"""Deduplication operator family (SURVEY.md §2.10).

The reference's dedup is exact-by-key (dict on message id, etl_service/
main.py:205; anti-join vs sink ids, main.py:175). A training-data pipeline
needs the near-dup ladder as well:

  exact_dedup        -- hash-groupBy on content hash; one shuffle.
  minhash_signature  -- k salted min-hashes over word shingles. Per-row
                       HOF math, no shuffle; the salt trick
                       (h_i = md5(shingle || '#' || i)) avoids 128-bit
                       mulmod while staying engine-portable.
  lsh_candidate_pairs-- MinHash-LSH banding: equi-join on (band, band_key)
                       buckets. THE scale path: candidate generation is a
                       hash self-join on bucket keys, never O(n^2).
  jaccard_verify     -- exact shingle-set Jaccard on candidates only.
  simhash            -- 32-bit sign-aggregated token-hash fingerprint;
                       per-row HOF, no shuffle.
  simhash_pairs      -- Hamming-ball banded search: split the fingerprint
                       into b bit-bands; any two fingerprints within
                       Hamming distance b-1 agree exactly on >=1 band
                       (pigeonhole), so candidate generation is an
                       equi-join on (band, band_bits) and exact
                       bit_count(xor) verification has NO false negatives
                       for d <= b-1. Same bucket-join shape as MinHash-LSH.
  jaccard_pairs      -- exact n-gram Jaccard for an arbitrary candidate
                       list (the standalone form of jaccard_verify).
  near_dup_pairs     -- the integrated ladder: one persisted shingle stage
                       (grams_stage) shared by signature generation, LSH
                       banding, and Jaccard verify; emits scored pairs at
                       or above a threshold. Cache bounded to one live
                       frame per session (_LIVE_GRAMS).

Skew note (100 TB): boilerplate shingles ("lorem ipsum", licence headers)
produce mega-buckets. ``lsh_candidate_pairs`` caps bucket width
(max_bucket) and drops wider buckets -- standard practice; dropped buckets
are boilerplate clusters that exact-dedup already collapses.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    MINHASH_P,
    minhash_coeffs,
    ngram_shingles,
    portable_hash64,
)


# One live shingle cache PER SparkSession (see near_dup_pairs). Weakly
# keyed by the session object so two sessions sharing this interpreter
# never evict each other's still-unconsumed cache AND a stopped/collected
# session's entry (with its pinned persisted frame) drops automatically;
# the lock serializes concurrent calls within a session (eviction there
# is intended -- bounded memory beats an unbounded pile of forgotten
# persisted plans).
_LIVE_GRAMS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LIVE_GRAMS_LOCK = threading.Lock()


def content_key(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    return F.md5(col)


def grams_stage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, _grams): the distinct word-shingle set per document, built as
    staged projections (tokens -> shingles). Staging matters: HOF lambdas
    are interpreted with no common-subexpression elimination, so an inline
    token split referenced per shingle re-splits the text O(shingles)
    times; a multi-referenced alias survives CollapseProject and is
    computed once per row."""
    from ..functions.text import ngram_shingles_from_tokens, whitespace_tokens

    toks = df.select(F.col(id_col), whitespace_tokens(text_col).alias("_toks"))
    return toks.select(
        id_col,
        F.array_distinct(ngram_shingles_from_tokens("_toks", shingle_n)).alias(
            "_grams"
        ),
    )


def shingle_hash_stage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    out_col: str = "_hs",
) -> DataFrame:
    """(id, _hs): distinct word-shingles reduced to one 60-bit hash each,
    mod P -- the single md5 pass every MinHash function affinely rehashes."""
    return hashes_from_grams(
        grams_stage(df, text_col, id_col, shingle_n), id_col, out_col
    )


def hashes_from_grams(
    grams: DataFrame, id_col: str = "doc_id", out_col: str = "_hs"
) -> DataFrame:
    return grams.select(
        id_col,
        F.transform("_grams", lambda s: portable_hash64(s) % MINHASH_P).alias(
            out_col
        ),
    )


def _coeffs_df(df: DataFrame, num_hashes: int) -> DataFrame:
    """The MinHash functions as a tiny broadcast dimension table (h_idx, a,
    b). Joining against it replaces posexplode of a computed signature
    array: Generate triggers InferFiltersFromGenerate, whose size()>0
    filter pushes below the projections and re-inlines the whole hash
    pipeline into a Filter condition -- a silent 2x (or worse) blowup."""
    rows = [(i, a, b) for i, (a, b) in enumerate(minhash_coeffs(num_hashes))]
    return F.broadcast(
        df.sparkSession.createDataFrame(rows, "h_idx int, a bigint, b bigint")
    )


def minhash_from_hashes(hs_col: Column | str, num_hashes: int) -> Column:
    """k-wide MinHash signature array from a PRE-STAGED hash column
    (attribute reference, not an inline expression -- see
    shingle_hash_stage)."""
    hs = F.col(hs_col) if isinstance(hs_col, str) else hs_col
    return F.array(
        *[
            F.array_min(
                F.transform(hs, lambda h: (h * F.lit(a) + F.lit(b)) % MINHASH_P)
            )
            for a, b in minhash_coeffs(num_hashes)
        ]
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per distinct content hash (deterministic,
    unlike dropDuplicates' arbitrary-first). One shuffle on the 128-bit
    content key; key space is uniform so no skew."""
    w = W.partitionBy(content_key(text_col)).orderBy(id_col)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Long-form signatures: (id, h_idx, minhash). Shingle-hash once, then
    broadcast-crossJoin the coeffs dimension: one affine-min per (row,
    h_idx), no Generate in the plan."""
    hashed = shingle_hash_stage(df, text_col, id_col, shingle_n)
    return hashed.crossJoin(_coeffs_df(df, num_hashes)).select(
        id_col,
        "h_idx",
        F.array_min(
            F.transform(
                "_hs", lambda h: (h * F.col("a") + F.col("b")) % MINHASH_P
            )
        ).alias("minhash"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash-LSH banding.

    rows-per-band r = num_hashes/bands; two docs collide on a band iff all
    r minhashes in it agree -> P(collide) = jaccard^r per band.
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    grams = grams_stage(df, text_col, id_col, shingle_n)
    return lsh_candidate_pairs_from_grams(
        grams, id_col, num_hashes, bands, max_bucket
    )


def banded_signatures(
    grams: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(_id, band, band_key) LSH band rows over a pre-staged (id, _grams)
    frame. Band ids join in as a broadcast dim (not posexplode -- see
    _coeffs_df note). Factored out so both the self-join pair generator
    and the two-sided incremental form bucket identically."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    hashed = hashes_from_grams(grams, id_col).select(
        F.col(id_col).alias("_id"), "_hs"
    )
    sig = hashed.select(
        "_id", minhash_from_hashes("_hs", num_hashes).alias("sig")
    )
    band_ids = F.broadcast(
        grams.sparkSession.createDataFrame(
            [(b,) for b in range(bands)], "band int"
        )
    )
    return sig.crossJoin(band_ids).select(
        "_id",
        "band",
        F.array_join(F.slice("sig", F.col("band") * r + 1, r), "_").alias(
            "band_key"
        ),
    )


def lsh_candidate_pairs_from_grams(
    grams: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding over a pre-staged (id, _grams) frame -- callers that also
    verify with Jaccard should build grams once (and persist it) so the
    tokenize/shingle pass is not re-executed per consumer."""
    banded = banded_signatures(grams, id_col, num_hashes, bands)
    # One shuffle: gather each bucket's member ids, cap pathological
    # buckets (boilerplate shingles), and generate in-bucket pairs with
    # HOFs. This replaces the counts-join + bucket self-join shape, which
    # consumed `banded` three times and recomputed the whole text pipeline
    # per consumer (Spark re-executes shared lineage per DAG reference).
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.collect_list("_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(F.array_sort("ids").alias("ids"))
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for given candidate (id_a, id_b) pairs."""
    return jaccard_pairs_from_grams(
        grams_stage(df, text_col, id_col, shingle_n), pairs, id_col
    )


def jaccard_pairs_from_grams(
    grams_df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    grams = grams_df.select(F.col(id_col).alias("_id"), "_grams")
    # array_distinct => (id, shingle) already unique after explode: no
    # distinct() shuffle needed; set sizes read off the array, no groupBy.
    sh = grams.select("_id", F.explode("_grams").alias("sh"))
    sizes = grams.select("_id", F.size("_grams").cast("bigint").alias("n_sh"))
    # Intersection via composite-key equi-join (id_b, shingle): stays a hash
    # join; never materializes the per-pair shingle cross product.
    sh_a = sh.select(F.col("_id").alias("id_a"), "sh")
    sh_b = sh.select(F.col("_id").alias("id_b"), "sh")
    shared = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        shared.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a"
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def df_capped_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int = 64,
) -> DataFrame:
    """The df-capped inverted index both no-sketch similarity operators
    (:func:`inverted_jaccard_pairs`, :func:`inverted_containment_pairs`)
    self-join on: posting rows (_id, g, sz) where ``g`` is a distinct
    shingle hash, boilerplate shingles with document frequency > ``max_df``
    are dropped BEFORE any join (they would each emit df*(df-1)/2 candidate
    rows), and ``sz`` counts the KEPT shingles of the document so scores
    are exact over the filtered shingle space. localCheckpointed: the
    self-join's two consumers read one materialization instead of
    re-running the shingle/md5 pipeline per side."""
    return (
        shingle_hash_stage(df, text_col, id_col, shingle_n, out_col="_hs")
        # distinct AFTER the mod-P hash: two shingles colliding to one
        # residue must still contribute one (id, g) posting, or shared
        # counts would double-count.
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct("_hs")).alias("g"),
        )
        .withColumn("_df", F.count("*").over(W.partitionBy("g")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
        # sizes count KEPT shingles (exact scores over the filtered
        # space), so they can only be computed post-filter -- as a window,
        # not a groupBy+join, and carried on the posting rows.
        .withColumn("sz", F.count("*").over(W.partitionBy("_id")).cast("bigint"))
        .localCheckpoint()
    )


def _shared_posting_pairs(kept: DataFrame) -> DataFrame:
    """The pair-generation scaffold both no-sketch scorers share: self
    equi-join of the df-capped posting list on the shingle hash, half-
    width (id_a < id_b), aggregated to (id_a, id_b, n_inter, sz_a, sz_b).
    The per-doc set sizes ride each posting row into the join so the pair
    aggregate reads them off with first() -- no size-lookup joins."""
    return (
        kept.select(F.col("_id").alias("id_a"), F.col("sz").alias("_sz_a"), "g")
        .join(
            kept.select(F.col("_id").alias("id_b"), F.col("sz").alias("_sz_b"), "g"),
            "g",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_inter"),
            F.first("_sz_a").alias("sz_a"),
            F.first("_sz_b").alias("sz_b"),
        )
    )


def inverted_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.9,
    max_df: int = 64,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    C(A in B) = |S_A intersect S_B| / |S_A|, the quote/subset-inclusion
    score Jaccard misses -- a short document fully quoted inside a long one
    has high containment but low Jaccard (the union is dominated by the
    long side), which is why corpus-curation pipelines (RefinedWeb/Dolma
    style) run containment alongside symmetric Jaccard.

    Same candidate-generation shape as :func:`inverted_jaccard_pairs` (one
    df-capped posting-list self-join, hash equi-join on the shingle hash,
    never O(n^2) over documents); the undirected join (id_a < id_b) is kept
    half-width and BOTH directed scores are emitted per surviving pair
    (cont_a_in_b, cont_b_in_a), filtered on the max of the two. Scores are
    exact over the df-filtered shingle space (intersection and sizes count
    kept shingles only). Reference parity: the reference dedups
    exact-by-key only (etl_service/main.py:205); this extends the near-dup
    ladder per SURVEY.md §2.10.
    """
    kept = df_capped_postings(df, text_col, id_col, shingle_n, max_df)
    shared = _shared_posting_pairs(kept)
    c_ab = F.col("n_inter").cast("double") / F.col("sz_a").cast("double")
    c_ba = F.col("n_inter").cast("double") / F.col("sz_b").cast("double")
    return shared.filter(F.greatest(c_ab, c_ba) >= threshold).select(
        "id_a",
        "id_b",
        F.round(c_ab, 6).alias("cont_a_in_b"),
        F.round(c_ba, 6).alias("cont_b_in_a"),
    )


def inverted_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_df: int = 64,
) -> DataFrame:
    """Direct n-gram-Jaccard near-dup pairs via a df-capped inverted index
    (no MinHash stage): the all-pairs-similarity shape of Bayardo et al.

    Any pair with Jaccard >= t shares >= 1 shingle, so candidate generation
    is the inverted-index self-join on the shingle hash -- a hash equi-join,
    never O(n^2) over documents. The document-frequency cap (``max_df``)
    drops boilerplate shingles shared by many documents BEFORE the
    self-join: a shingle hitting d documents would emit d*(d-1)/2 candidate
    rows, so ubiquitous grams (licence headers, lorem ipsum) are the
    quadratic risk, and they carry ~zero similarity signal. Jaccard is then
    computed EXACTLY over the df-filtered shingle space: both the shared
    count and the per-document set sizes count only kept shingles, so the
    emitted score is the exact Jaccard of the filtered sets (not a lower
    bound mixing filtered intersections with unfiltered sizes). Documents
    whose every shingle is capped (pure boilerplate) leave the index;
    exact-hash dedup already collapses those.

    Plan shape: ONE scan+shingle pass -> explode(distinct shingles) -> df
    window (shuffle on the shingle hash) -> per-doc size window (shuffle on
    the id) -> localCheckpoint -> self equi-join on the hash -> pair
    groupBy. The per-doc set size rides each posting row into the join, so
    the pair aggregate reads it off with first() -- no size-lookup joins --
    and the checkpoint pins the posting list so neither self-join side
    re-runs the shingle/md5 pipeline (without it Spark re-executes the
    subtree once per consumer: four full text scans). Reference parity: the
    reference dedups exact-by-key only (etl_service/main.py:205); this is
    the near-dup ladder's no-sketch rung, complementing MinHash-LSH
    (approximate, for when even one window over the full posting list is
    too wide).
    """
    kept = df_capped_postings(df, text_col, id_col, shingle_n, max_df)
    shared = _shared_posting_pairs(kept)
    jac = F.col("n_inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    ).cast("double")
    return shared.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def simhash(text_col: Column | str, bits: int = 32) -> Column:
    """Sign-aggregated token-hash fingerprint as a bigint.

    bit_j(sum over tokens of +-1 by token-hash bit j) -- positive sums set
    the bit. Single aggregate() fold per row, no shuffle.
    """
    from ..functions.text import whitespace_tokens

    # Hash each token ONCE, then fold over the int64s: the bit expansion
    # references the bound lambda variable (evaluated once per element), not
    # a re-instantiated md5 expression per bit.
    tok_hashes = F.transform(
        whitespace_tokens(text_col), lambda t: portable_hash64(t)
    )
    counts = F.aggregate(
        tok_hashes,
        F.array_repeat(F.lit(0).cast("bigint"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("bigint")
                    for j in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    powers = F.array(*[F.lit(1 << j).cast("bigint") for j in range(bits)])
    return F.aggregate(
        F.zip_with(
            counts,
            powers,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def simhash_pairs(
    df: DataFrame,
    max_distance: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, found with a banded
    equi-join (never all-pairs).

    Split each ``bits``-wide fingerprint into ``bands`` contiguous bit
    slices. If hamming(a, b) <= bands - 1, at least one slice carries no
    differing bit (pigeonhole), so a and b collide on that slice's
    (band, band_bits) key. Candidate generation is therefore a hash
    self-join on bucket keys -- the 100 TB-shaped plan -- and the exact
    ``bit_count(a XOR b)`` check inside each bucket removes false
    positives, leaving exactly {(a, b) : hamming <= max_distance} with
    id_a < id_b. With ``bands = max_distance + 1`` (the default) recall is
    exact; fingerprints are carried inside the bucket rows, so
    verification needs no second join.

    Skew: identical boilerplate fingerprints form one bucket per band;
    ``max_bucket`` caps the quadratic in-bucket pair expansion the same
    way lsh_candidate_pairs does (dropped buckets are exact-dup clusters
    that content-hash dedup already collapses). Capping interacts with the
    exactly-once leftmost-band emission (see ``_pair``): a pair survives
    iff its LEFTMOST agreeing band's bucket survives the cap -- slightly
    lossier around mega-buckets than a distinct-based any-band form, in
    exchange for deleting the distinct's full shuffle of the pair stream.
    With no capping (the oracle-gated configuration) recall is exact.

    Sizing note for large corpora: keep band keys selective -- r = bits /
    bands is the bucket-key width, and 2^r buckets per band must be large
    relative to the corpus (e.g. bits=48..62 rather than 32) or every
    bucket saturates the cap. The fingerprint is a single bigint, so wider
    costs nothing structurally (bits <= 62 keeps the top bit clear).
    """
    fp = df.select(
        F.col(id_col).alias("_id"), simhash(text_col, bits).alias("_fp")
    )
    return hamming_pairs_from_fingerprints(
        fp, bits=bits, max_distance=max_distance, bands=bands,
        max_bucket=max_bucket,
    )


def hamming_pairs_from_fingerprints(
    fp: DataFrame,
    bits: int,
    max_distance: int = 3,
    bands: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """The banded Hamming self-join of ``simhash_pairs`` over
    ALREADY-COMPUTED fingerprints (columns ``_id``, ``_fp``): any
    bounded-width integer fingerprint -- SimHash, image dHash/aHash --
    shares the same pigeonhole candidate generation and exact
    bit_count(xor) verification, so the join is factored out of the
    text-specific fingerprint construction. Semantics, skew cap, and the
    leftmost-band exactly-once emission are documented on
    ``simhash_pairs``."""
    if bands is None:
        bands = max_distance + 1
    if bands > bits:
        raise ValueError(f"bands={bands} cannot exceed bits={bits}")
    if bands <= max_distance:
        raise ValueError(
            f"bands={bands} <= max_distance={max_distance}: pigeonhole "
            "guarantee needs bands >= max_distance + 1"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} must divide evenly into bands={bands}")
    r = bits // bands
    band_dim = F.broadcast(
        fp.sparkSession.createDataFrame([(b,) for b in range(bands)], "band int")
    )
    banded = fp.crossJoin(band_dim).select(
        "_id",
        "_fp",
        "band",
        # F.shiftright only takes a literal shift; the per-band shift is a
        # column, so spell it in SQL.
        F.expr(f"shiftright(_fp, band * {r}) & {(1 << r) - 1}").alias("band_key"),
    )
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.collect_list(F.struct("_id", "_fp")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
        # struct sort: by _id first
        .select("band", F.array_sort("ms").alias("ms"))
    )

    def _pair(x, y):
        # Leftmost-collision ownership: a pair within distance d agrees on
        # bands-d..bands bands and would surface once per agreeing bucket;
        # emitting it ONLY from its first agreeing band makes the emission
        # exactly-once globally, deleting the final distinct() -- a full
        # shuffle of the pair stream -- outright. "Agrees on band b" is a
        # bit test on the xor, so the ownership check is pure row-local
        # arithmetic (both fingerprints already ride in the bucket).
        xr = x["_fp"].bitwiseXOR(y["_fp"])
        agree_before = sum(
            (
                F.when(
                    (F.lit(b) < F.col("band"))
                    & (
                        F.shiftright(xr, b * r).bitwiseAND(F.lit((1 << r) - 1))
                        == 0
                    ),
                    1,
                ).otherwise(0)
            )
            for b in range(bands)
        )
        return F.struct(
            x["_id"].alias("id_a"),
            y["_id"].alias("id_b"),
            F.bit_count(xr).alias("hamming"),
            (agree_before == 0).alias("own"),
        )

    pairs = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: _pair(x, y),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .filter(F.col("p.own") & (F.col("p.hamming") <= max_distance))
        .select("p.id_a", "p.id_b", "p.hamming")
    )


def _same_result(a: DataFrame, b: DataFrame) -> bool:
    """True when two DataFrames are canonically the same plan (Spark's own
    sameResult check, used by CacheManager for cache matching)."""
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:
        return False


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Integrated near-dup detection: LSH candidates -> exact-Jaccard
    verify -> (id_a, id_b, jaccard >= threshold).

    The shingle stage is computed ONCE and persisted: candidate generation
    and verification are three lineage consumers (signatures, shingle
    explode, set sizes), and without materialization Spark re-executes the
    tokenize/shingle/md5 pass per consumer. At warehouse scale the same
    artifact is a checkpointed shingle table shared by the whole dedup
    pipeline; MEMORY_AND_DISK keeps the local form spill-safe.
    """
    from pyspark import StorageLevel

    # At most ONE live shingle cache per session: Spark's CacheManager
    # never evicts cached plans on its own, so per-call persist() with no
    # unpersist() accumulates across a long-lived session (one frame per
    # dedup query invocation). Dropping that session's previous cache
    # keeps memory bounded; a still-unexecuted earlier result would simply
    # recompute its shingles. Other sessions' caches are untouched.
    # ORDER MATTERS: unpersist the previous cache BEFORE persisting the
    # new frame. Spark's CacheManager matches cache entries by
    # canonicalized plan, and two near_dup_pairs calls over the same input
    # produce the same plan -- unpersisting the old frame after the new
    # persist() would evict the NEW entry too, silently degrading every
    # consumer of the shared shingle stage to full recompute (a measured
    # ~2x slowdown on dedup_clusters).
    # The whole check -> pop -> unpersist -> persist -> set sequence holds
    # the lock: two threads of one session interleaving pop/persist/set
    # could leave the loser's persisted frame in place but absent from
    # _LIVE_GRAMS -- a cache entry nothing will ever unpersist.
    # unpersist(blocking=False) keeps the critical section cheap.
    key = df.sparkSession
    with _LIVE_GRAMS_LOCK:
        grams = grams_stage(df, text_col, id_col, shingle_n)
        prev = _LIVE_GRAMS.get(key)
        if prev is not None and _same_result(prev, grams):
            # Same session, semantically identical shingle plan: REUSE the
            # live cache instead of rotating it. Back-to-back dedup queries
            # over one corpus (pairs -> clusters -> survivors) previously
            # dropped warm blocks only to rebuild the identical frame --
            # pure recompute waste. sameResult is Spark's own canonical-
            # plan equivalence, the predicate CacheManager itself uses.
            grams = prev
        else:
            if prev is not None:
                _LIVE_GRAMS.pop(key)
                try:
                    prev.unpersist(blocking=False)
                except Exception:
                    pass
            grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
            _LIVE_GRAMS[key] = grams
    cand = lsh_candidate_pairs_from_grams(
        grams, id_col, num_hashes, bands, max_bucket
    )
    scored = jaccard_pairs_from_grams(grams, cand, id_col)
    return scored.filter(F.col("jaccard") >= threshold)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard >= t self-join with PREFIX FILTERING (the All-Pairs /
    PPJoin candidate bound, Bayardo et al. WWW'07 / Xiao et al. WWW'08):
    the same answer as a full posting-list self-join, from an index that
    holds only each document's RARE-TOKEN PREFIX.

    Under a global token order (ascending document frequency, rare
    first), each document of |x| distinct shingles indexes only its
    first ``|x| - ceil(t*|x|) + 1`` tokens. Completeness lemma: J(A,B)
    >= t forces |A∩B| >= t*max(|A|,|B|) (since J <= min/max, the sizes
    already satisfy min >= t*max); if the globally-smallest common token
    were outside A's prefix, the whole intersection would fit in A's
    last ceil(t|A|)-1 tokens -- fewer than t|A| <= |A∩B|, a
    contradiction -- so BOTH prefixes contain that token and the prefix
    self-join generates every qualifying pair. Unlike the df-cap
    (:func:`df_capped_postings`) this drops NO tokens from the score:
    candidates shrink, semantics don't.

    The threshold is a RATIONAL num/den and the prefix length uses exact
    integer ceil ((num*sz + den - 1) div den): a float ceil that rounds
    1.2000000000000002 up one too far would SHORTEN the prefix below the
    lemma bound and silently drop pairs. Verification is also integer:
    n_inter*den >= num*(sz_a + sz_b - n_inter), no float compare in the
    keep/drop decision.

    Scale shape: the per-doc distinct-shingle ARRAY is pinned once
    (sizes read off it row-locally); the posting explode feeds one
    window pass for df (shuffle on token) and position (shuffle on
    doc); the candidate join touches only prefix postings -- for t=0.5
    about half of each posting list, and the RAREST half, which is
    exactly where the quadratic df^2 bucket cost lives (the frequent
    tokens that explode posting joins sit in suffixes and never join);
    verification joins the bounded candidate set against the pinned
    per-doc arrays (O(|doc|) each with array_intersect, JVM-side --
    previously re-assembled with a collect_set groupBy over the full
    posting list, a whole extra shuffle removed in r12)."""
    # Optimization r12 (guide §2.4 -- remove shuffles outright): the
    # per-doc DISTINCT SHINGLE ARRAY exists row-locally before any
    # explode, so it is pinned ONCE as (id, sorted array, size) and both
    # downstream faces read it: the posting explode derives from the pin
    # (no re-hash), the per-doc size is F.size (was a full-posting window
    # shuffle), and the verification arrays ARE the pin (was a
    # collect_set groupBy over the full posting list -- an entire extra
    # shuffle of every posting row). sort_array(collect_set(explode(
    # array_distinct(x)))) == array_sort(array_distinct(x)) row-for-row,
    # so candidates, verification and scores are bit-identical.
    docs_arr = (
        shingle_hash_stage(df, text_col, id_col, shingle_n, out_col="_hs")
        .select(
            F.col(id_col).alias("_id"),
            F.array_sort(F.array_distinct("_hs")).alias("arr"),
        )
        .withColumn("sz", F.size("arr"))
        .localCheckpoint()
    )
    # toks is not pinned although both sides of the prefix self-join read
    # it: AQE reuses its two window shuffles for the second side (the
    # executed sf0.1 plan holds 2 ReusedExchange), and only the Sort +
    # Window above them run once per side. The static plan pair
    # plans/r12/dedup_jaccard_prefix_filter_{before,after}.txt shows the
    # two collect_set shuffles gone but cannot show runtime reuse.
    toks = (
        docs_arr.select("_id", "sz", F.explode("arr").alias("g"))
        .withColumn("_df", F.count("*").over(W.partitionBy("g")))
        .withColumn(
            "_pos",
            F.row_number().over(
                W.partitionBy("_id").orderBy("_df", "g")
            ),
        )
    )
    # integer ceil(t*sz) via `div` (a float division here could round up
    # across an integer boundary and shorten the prefix past the lemma
    # bound); prefix keeps _pos <= sz - ceil + 1
    prefix = toks.filter(
        F.col("_pos")
        <= F.col("sz")
        - F.expr(
            f"(sz * {threshold_num} + {threshold_den} - 1)"
            f" div {threshold_den}"
        )
        + 1
    ).select("_id", "g", "sz")
    cand = (
        prefix.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a"), "g")
        .join(
            prefix.select(
                F.col("_id").alias("id_b"), F.col("sz").alias("sz_b"), "g"
            ),
            "g",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size filter: J >= t requires min >= t * max
            & (
                F.least("sz_a", "sz_b") * threshold_den
                >= F.greatest("sz_a", "sz_b") * threshold_num
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    arrays = docs_arr.select("_id", "arr")
    verified = (
        cand.join(
            arrays.select(F.col("_id").alias("id_a"), F.col("arr").alias("arr_a")),
            "id_a",
        )
        .join(
            arrays.select(F.col("_id").alias("id_b"), F.col("arr").alias("arr_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long").alias("n_inter"),
            F.size("arr_a").cast("long").alias("sz_a"),
            F.size("arr_b").cast("long").alias("sz_b"),
        )
        .filter(
            F.col("n_inter") * threshold_den
            >= (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")) * threshold_num
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
            6,
        ).alias("jaccard"),
    )
