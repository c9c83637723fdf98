"""KMV bottom-k sketch as gated queries: deterministic sampling +
distinct estimation (operators/kmv.py, streaming twin streaming/kmv.py).

The engine's answer to reservoir sampling: hash-bottom-k gives the same
uniform-over-distinct-values guarantee with deterministic replay (the
DuckDB oracle recomputes the identical sample), O(k) state, and a
distinct-count estimate for free. The reference has no sampling at all;
its only cardinality logic is the exact in-memory id set
(etl_service/main.py:101) this sketch replaces at scales where a set no
longer fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread
from ..operators.kmv import (
    kmv_build,
    kmv_build_grouped,
    kmv_estimate,
    kmv_hash,
)
from .registry import query

_H = "('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT"

_EST_ORACLE = f"""
WITH d AS (SELECT DISTINCT event_id FROM events WHERE event_id IS NOT NULL),
h AS (SELECT {_H.format(col='event_id')} AS h FROM d),
bk AS (SELECT h FROM h ORDER BY h LIMIT 256)
SELECT CAST(256 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(FLOOR(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                       ELSE 255.0 * 1152921504606846976.0 / MAX(h) END)
            AS BIGINT) AS est_distinct
FROM bk
"""


@query("agg_kmv_distinct_events", oracle=_EST_ORACLE)
def agg_kmv_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimate of event_id with k=256: the bottom-k
    is TakeOrderedAndProject (per-partition heaps merged at the driver,
    no global sort), everything after the hash is O(k). The oracle
    recomputes the identical bottom-k and Beyer et al. estimator
    relationally -- the gate checks the ESTIMATE bit-for-bit, not just
    its error band (accuracy-vs-exact is pytest-gated)."""
    ev = load_table(spark, sf_dir, "events")
    return kmv_estimate(kmv_build(ev, "event_id", 256), 256)


@query(
    "agg_kmv_sample_users",
    oracle=f"""
WITH d AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
h AS (SELECT {_H.format(col='user_id')} AS h,
             CAST(user_id AS BIGINT) AS user_id FROM d)
SELECT h, user_id FROM h ORDER BY h LIMIT 16
""",
)
def agg_kmv_sample_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample face of the same sketch: the 16 distinct users with
    the smallest hashes ARE a uniform sample of the user population --
    and exactly reproducible, so the oracle materializes the very same
    16 rows. This is how a 100 TB pipeline samples users for an eval
    set without a global shuffle or a nondeterministic rand()."""
    ev = load_table(spark, sf_dir, "events")
    return kmv_build(ev, "user_id", 16).select(
        "h", F.col("value").cast("bigint").alias("user_id")
    )


@query(
    "events_kmv_grouped_sample",
    oracle=f"""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events
            WHERE user_id IS NOT NULL),
h AS (SELECT event_type, {_H.format(col='user_id')} AS h,
             CAST(user_id AS BIGINT) AS user_id FROM d),
r AS (SELECT event_type, h, user_id,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h)
SELECT event_type, h, user_id FROM r WHERE rn <= 4
""",
)
def events_kmv_grouped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV: 4-user deterministic sample per event type in one
    hash projection + one window rank (single shuffle on the group key).
    Ties are impossible (the hash is injective over distinct inputs up
    to md5 collisions), so rank order is total and the oracle's
    ROW_NUMBER reproduces it exactly."""
    ev = load_table(spark, sf_dir, "events")
    return kmv_build_grouped(ev, ["event_type"], "user_id", 4).select(
        "event_type", "h", F.col("value").cast("bigint").alias("user_id")
    )


@query("stream_kmv_distinct_events", oracle=_EST_ORACLE)
def stream_kmv_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED sketch, gated against the batch spec: the
    corpus arrives as three micro-batches through the real
    snapshot-pointer sink (streaming/kmv.apply_kmv_batch -- the exact
    code path the streaming maintenance runs), and the final committed
    state's estimate must equal the one-shot batch build's. Proves the
    merge contract (bottom-k of union == bottom-k of merged bottom-k's)
    on the production write path, not just in pytest."""
    from ..fixtures import fresh_dir
    from ..streaming.kmv import apply_kmv_batch, read_kmv

    ev = load_table(spark, sf_dir, "events")
    root = fresh_dir("kmv", sf_dir)
    for i in range(3):
        apply_kmv_batch(
            spark,
            ev.where(F.col("event_id") % 3 == i),
            i,
            "event_id",
            root,
            256,
        )
    return kmv_estimate(read_kmv(spark, root), 256)


@query(
    "agg_kmv_set_ops",
    oracle=f"""
WITH da AS (SELECT DISTINCT user_id AS v FROM events
            WHERE user_id IS NOT NULL AND event_type = 'click'),
db AS (SELECT DISTINCT user_id AS v FROM events
            WHERE user_id IS NOT NULL AND event_type = 'purchase'),
ska AS (SELECT {_H.format(col='v')} AS h, v FROM da ORDER BY h LIMIT 256),
skb AS (SELECT {_H.format(col='v')} AS h, v FROM db ORDER BY h LIMIT 256),
kk AS (
  SELECT h, v FROM (SELECT h, v FROM ska UNION SELECT h, v FROM skb)
  ORDER BY h LIMIT 256
),
flags AS (
  SELECT kk.h, kk.v,
         CASE WHEN ska.v IS NOT NULL THEN 1 ELSE 0 END AS in_a,
         CASE WHEN skb.v IS NOT NULL THEN 1 ELSE 0 END AS in_b
  FROM kk
  LEFT JOIN ska ON ska.h = kk.h AND ska.v = kk.v
  LEFT JOIN skb ON skb.h = kk.h AND skb.v = kk.v
),
sk AS (
  SELECT COUNT(*) AS n_kept, MAX(h) AS h_k,
         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both,
         SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS n_a_only
  FROM flags
),
est AS (
  SELECT n_kept, n_both, n_a_only,
         CASE WHEN n_kept < 256 THEN CAST(n_kept AS DOUBLE)
              ELSE 255.0 * 1152921504606846976.0 / h_k END AS u_est
  FROM sk
),
pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_c,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_p
  FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
  GROUP BY user_id
),
ex AS (
  SELECT COUNT(*) AS ex_union,
         SUM(CASE WHEN in_c = 1 AND in_p = 1 THEN 1 ELSE 0 END) AS ex_inter,
         SUM(CASE WHEN in_c = 1 AND in_p = 0 THEN 1 ELSE 0 END) AS ex_diff
  FROM pu
),
rows_ AS (
  SELECT 'union' AS op,
         CAST(FLOOR(u_est) AS BIGINT) AS est,
         CAST(ex_union AS BIGINT) AS exact
  FROM est, ex
  UNION ALL
  SELECT 'intersect',
         CAST(CASE WHEN n_kept = 0 THEN 0
                   ELSE FLOOR(n_both * u_est / n_kept) END AS BIGINT),
         CAST(ex_inter AS BIGINT)
  FROM est, ex
  UNION ALL
  SELECT 'diff_a_b',
         CAST(CASE WHEN n_kept = 0 THEN 0
                   ELSE FLOOR(n_a_only * u_est / n_kept) END AS BIGINT),
         CAST(ex_diff AS BIGINT)
  FROM est, ex
)
SELECT op, est, exact,
       CASE WHEN exact = 0 THEN NULL
            ELSE ROUND(CAST(est - exact AS DOUBLE) / exact, 6) END AS rel_err
FROM rows_
""",
)
def agg_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV multiset operations (the second half of Beyer et al.
    SIGMOD'07): union, intersection, and difference cardinalities of two
    user populations (click-ers vs purchase-ers), each estimated from
    two 256-row sketches ALONE -- the combined sketch K = bottom-k of
    the sketch union estimates the union; the fraction of K's samples
    present in both (resp. only A) scales that estimate down to the
    intersection (resp. difference). HLL can only union (intersection
    needs inclusion-exclusion, error compounds); KMV's sample face makes
    all three first-class -- the sketch algebra a planner keeps per
    partition and combines without rescanning either side. Exact counts
    computed beside (one conditional-flag aggregate) so the emitted
    rel_err shows the k=256 error live.

    Gate is bit-exact: bottom-k is deterministic md5 order, estimators
    are IEEE double arithmetic on identical integers, floored. Plan: two
    TakeOrdered sketches (no global sort), O(k) membership joins, one
    exact per-user flag aggregate, three 1-row crossJoin emits."""
    ev = load_table(spark, sf_dir, "events")
    # §5 pins (optimization r12): each 256-row sketch has TWO consumers
    # (the combined-sketch union and its membership join), and the 1-row
    # `both` below feeds THREE output rows -- unpinned, every reference
    # re-ran the full events scan + TakeOrdered subtree (the union/
    # intersect/diff emits re-executed the whole query once each).
    a = kmv_build(
        ev.where(F.col("event_type") == "click"), "user_id", 256
    ).localCheckpoint(eager=False)
    b = kmv_build(
        ev.where(F.col("event_type") == "purchase"), "user_id", 256
    ).localCheckpoint(eager=False)
    kk = (
        a.unionByName(b)
        .dropDuplicates(["h", "value"])
        .orderBy("h")
        .limit(256)
        .localCheckpoint()
    )
    flags = (
        kk.join(a.select("h", "value", F.lit(1).alias("in_a")), ["h", "value"], "left")
        .join(b.select("h", "value", F.lit(1).alias("in_b")), ["h", "value"], "left")
        .select(
            "h",
            F.coalesce(F.col("in_a"), F.lit(0)).alias("in_a"),
            F.coalesce(F.col("in_b"), F.lit(0)).alias("in_b"),
        )
    )
    sk = flags.agg(
        F.count("*").alias("n_kept"),
        F.max("h").alias("h_k"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)).alias("n_both"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0)).alias("n_a_only"),
    )
    est = sk.select(
        "n_kept",
        "n_both",
        "n_a_only",
        F.when(F.col("n_kept") < 256, F.col("n_kept").cast("double"))
        .otherwise(F.lit(255.0) * F.lit(1152921504606846976.0) / F.col("h_k"))
        .alias("u_est"),
    )
    pu = (
        ev.where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("in_c"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("in_p"),
        )
    )
    ex = pu.agg(
        F.count("*").alias("ex_union"),
        F.sum(F.when((F.col("in_c") == 1) & (F.col("in_p") == 1), 1).otherwise(0)).alias("ex_inter"),
        F.sum(F.when((F.col("in_c") == 1) & (F.col("in_p") == 0), 1).otherwise(0)).alias("ex_diff"),
    )
    # 1 row, 3 consumers (the union/intersect/diff emits) -- see §5 note
    both = est.crossJoin(F.broadcast(ex)).localCheckpoint(eager=False)
    u_row = both.select(
        F.lit("union").alias("op"),
        F.floor(F.col("u_est")).cast("bigint").alias("est"),
        F.col("ex_union").cast("bigint").alias("exact"),
    )
    i_row = both.select(
        F.lit("intersect").alias("op"),
        F.when(F.col("n_kept") == 0, F.lit(0))
        .otherwise(F.floor(F.col("n_both") * F.col("u_est") / F.col("n_kept")))
        .cast("bigint")
        .alias("est"),
        F.col("ex_inter").cast("bigint").alias("exact"),
    )
    d_row = both.select(
        F.lit("diff_a_b").alias("op"),
        F.when(F.col("n_kept") == 0, F.lit(0))
        .otherwise(F.floor(F.col("n_a_only") * F.col("u_est") / F.col("n_kept")))
        .cast("bigint")
        .alias("est"),
        F.col("ex_diff").cast("bigint").alias("exact"),
    )
    out = u_row.unionByName(i_row).unionByName(d_row)
    return out.select(
        "op",
        "est",
        "exact",
        F.when(F.col("exact") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((F.col("est") - F.col("exact")).cast("double") / F.col("exact"), 6)
        )
        .alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
# Data Streams", Google 2012): B resamples in ONE pass -- each row enters
# resample b with weight ~ Poisson(1), drawn deterministically from an
# affine rehash of the row's md5 (one md5 per row, B cheap integer ops;
# the minhash_coeffs trick). No data shuffle per resample, no RNG state:
# the draw replays identically on any engine/partitioning.

_PB_B = 64
_PB_P = 2147483647  # 2^31 - 1: keeps h * a inside int64


def _pb_coeffs() -> list[tuple[int, int, int]]:
    """Deterministic per-resample affine coefficients, md5-derived the
    same way minhash_coeffs builds its hash family."""
    import hashlib as _hl

    out = []
    for b in range(_PB_B):
        a = int(_hl.md5(f"pba:{b}".encode()).hexdigest()[:15], 16) % (_PB_P - 1) + 1
        c = int(_hl.md5(f"pbc:{b}".encode()).hexdigest()[:15], 16) % _PB_P
        out.append((b, a, c))
    return out


def _pb_cum() -> list[float]:
    """Cumulative Poisson(1) CDF values P(X <= k), k = 0..7, rounded to
    10dp -- identical literals embedded in the Spark CASE chain and the
    SQL oracle."""
    import math as _m

    e = _m.exp(-1.0)
    cum, s, fact = [], 0.0, 1.0
    for k in range(8):
        if k > 0:
            fact *= k
        s += e / fact
        cum.append(round(s, 10))
    return cum


_PB_CUM = _pb_cum()


def _pb_weight_sql(u: str) -> str:
    branches = "\n".join(
        f"       WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_PB_CUM)
    )
    return f"CASE\n{branches}\n       ELSE 8 END"


@query(
    "events_bootstrap_ci",
    oracle=f"""
WITH coeffs AS (
  SELECT * FROM (VALUES
    {", ".join(f"({b}, {a}, {c})" for b, a, c in _pb_coeffs())}
  ) AS t(b, a, c)
),
rows_ AS (
  SELECT event_type,
         CAST(ROUND(value, 4) AS DECIMAL(18,4)) AS v,
         {_H.format(col='event_id')} % {_PB_P} AS h
  FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL
),
drawn AS (
  SELECT r.event_type, r.v, co.b,
         ((r.h * co.a + co.c) % {_PB_P} + 1)
           / CAST({_PB_P + 2} AS DOUBLE) AS u
  FROM rows_ r CROSS JOIN coeffs co
),
weighted AS (
  SELECT event_type, b, v,
         {_pb_weight_sql('u')} AS w
  FROM drawn
),
means AS (
  SELECT event_type, b,
         CAST(SUM(w * v) AS DOUBLE) / SUM(w) AS mean_b
  FROM weighted GROUP BY event_type, b
  HAVING SUM(w) > 0
),
ranked AS (
  SELECT event_type, mean_b,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY mean_b, b) AS rnk
  FROM means
),
ci AS (
  SELECT event_type,
         MAX(CASE WHEN rnk = 2 THEN mean_b END) AS lo,
         MAX(CASE WHEN rnk = {_PB_B - 1} THEN mean_b END) AS hi
  FROM ranked GROUP BY event_type
),
pt AS (
  SELECT event_type,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS point_mean,
         COUNT(*) AS n_rows
  FROM rows_ GROUP BY event_type
)
SELECT pt.event_type,
       CAST(pt.n_rows AS BIGINT) AS n_rows,
       ROUND(pt.point_mean, 6) AS point_mean,
       ROUND(ci.lo, 6) AS ci_lo,
       ROUND(ci.hi, 6) AS ci_hi
FROM pt JOIN ci USING (event_type)
""",
)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence intervals for the per-type mean
    event value (Chamandy et al. 2012, the one-pass bootstrap every
    massive-data A/B system runs): each row joins 64 resamples with an
    independent Poisson(1) weight, the 64 weighted means' 2nd and 63rd
    order statistics are the percentile CI. The entire resampling is ONE
    scan and one (type, b) hash aggregate -- no per-resample shuffle, no
    data duplication at rest, no RNG state: weights come from inverse-CDF
    thresholds on an affine rehash of the row's md5 (one md5 per row, 64
    integer ops -- the minhash-coefficient discipline), so any engine,
    partitioning, or retry draws the same resamples.

    Exactness: draws are exact integer ratios vs 10dp literal CDF
    thresholds (identical constants both sides); values are
    DECIMAL(18,4)-quantized before the weighted sums (registry rule), so
    each mean_b is one IEEE division of identical numbers and the rank
    selection is bit-stable. Plan: scan -> broadcast 64-row coeff dim ->
    partial+final aggregate over (types x 64) groups -> one O(types x 64)
    window. At 100 TB the inflation never materializes: weights fold
    into the partial aggregate map-side."""
    # spread: the fixture is a single row group, so the 64x resample
    # inflation would otherwise run in 1-3 scan partitions
    ev = (
        spread(load_table(spark, sf_dir, "events"))
        .where(F.col("value").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "event_type",
            F.round("value", 4).cast("decimal(18,4)").alias("v"),
            (kmv_hash("event_id") % _PB_P).alias("h"),
        )
    )
    coeffs = F.broadcast(
        ev.sparkSession.createDataFrame(
            _pb_coeffs(), "b int, a bigint, c bigint"
        )
    )
    u = ((F.col("h") * F.col("a") + F.col("c")) % _PB_P + 1) / F.lit(
        float(_PB_P + 2)
    )
    w = F.lit(8)
    for k in range(len(_PB_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_PB_CUM[k]), F.lit(k)).otherwise(w)
    means = (
        ev.crossJoin(coeffs)
        .select("event_type", "b", "v", w.alias("w"))
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("v")).alias("sv"),
            F.sum("w").alias("n_w"),
        )
        .where(F.col("n_w") > 0)
        .select(
            "event_type",
            "b",
            (F.col("sv").cast("double") / F.col("n_w")).alias("mean_b"),
        )
    )
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("event_type").orderBy("mean_b", "b")
    )
    ci = (
        means.withColumn("rnk", rnk)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rnk") == 2, F.col("mean_b"))).alias("lo"),
            F.max(
                F.when(F.col("rnk") == _PB_B - 1, F.col("mean_b"))
            ).alias("hi"),
        )
    )
    pt = ev.groupBy("event_type").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("point_mean"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return pt.join(ci, "event_type").select(
        "event_type",
        "n_rows",
        F.round("point_mean", 6).alias("point_mean"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
    )


@query(
    "curation_mixture_allocation",
    oracle="""
WITH w(lang, wp) AS (
  VALUES ('en', 400), ('de', 200), ('es', 150), ('fr', 150), ('zh', 100)
),
base AS (
  SELECT lang, wp, (200 * wp) // 1000 AS q0, (200 * wp) % 1000 AS frac
  FROM w
),
tot AS (SELECT 200 - SUM(q0) AS leftover FROM base),
extras AS (
  SELECT lang, q0, frac,
         ROW_NUMBER() OVER (ORDER BY frac DESC, lang) AS r
  FROM base
),
quota AS (
  SELECT lang, q0 + CASE WHEN r <= tot.leftover THEN 1 ELSE 0 END AS quota
  FROM extras CROSS JOIN tot
),
ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
),
avail AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_avail FROM documents GROUP BY 1),
picks AS (
  SELECT r.lang, r.doc_id FROM ranked r JOIN quota q USING (lang)
  WHERE r.rn <= q.quota
)
SELECT q.lang,
       COALESCE(a.n_avail, 0) AS n_avail,
       CAST(q.quota AS BIGINT) AS quota,
       CAST(COUNT(p.doc_id) AS BIGINT) AS n_picked,
       CAST(COALESCE(SUM(p.doc_id), 0) AS BIGINT) AS picked_checksum
FROM quota q
LEFT JOIN avail a ON a.lang = q.lang
LEFT JOIN picks p ON p.lang = q.lang
GROUP BY 1, 2, 3
""",
)
def curation_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data MIXTURE allocation (the data-mixing step of every
    LLM pipeline -- Pile/Dolma-style source weighting): a 200-document
    sample is allocated across languages by target permille weights
    (en 400 / de 200 / es 150 / fr 150 / zh 100) with LARGEST-REMAINDER
    rounding (Hamilton's method: integer base quotas, the leftover seats
    go to the largest fractional parts, ties broken by language), then
    each language's quota is filled by deterministic md5-rank sampling
    (uniform over the language's documents, replayable on any engine).
    Output is the per-language allocation audit: available docs, quota,
    picked count (quota unless the stratum is short -- shortfall is
    reported, not silently redistributed), and the picked-id checksum
    that pins the EXACT sample, not just its size. Complements
    docs_domain_mixture (which derives temperature-based WEIGHTS from
    the corpus): this takes target weights as given and gates the exact
    integer seat allocation + the concrete picked sample.

    Exactness: weights are integer permille so quotas are pure integer
    arithmetic (// and % -- no float seat math), and the md5 rank
    totally orders each stratum. Plan: one O(langs) weight dim (literal
    VALUES / createDataFrame, broadcast), one per-language rank window,
    one aggregate -- at 100 TB the rank window is the only corpus-sized
    pass and partitions by stratum."""
    docs = load_table(spark, sf_dir, "documents")
    k = 200
    w = spark.createDataFrame(
        [("en", 400), ("de", 200), ("es", 150), ("fr", 150), ("zh", 100)],
        "lang string, wp int",
    )
    base = w.select(
        "lang",
        F.expr(f"({k} * wp) div 1000").alias("q0"),
        (F.lit(k) * F.col("wp") % 1000).alias("frac"),
    )
    tot = base.agg((F.lit(k) - F.sum("q0")).alias("leftover"))
    from pyspark.sql.window import Window as W

    extras = base.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("frac"), "lang"))
    )
    quota = extras.crossJoin(F.broadcast(tot)).select(
        "lang",
        (
            F.col("q0")
            + F.when(F.col("r") <= F.col("leftover"), 1).otherwise(0)
        ).alias("quota"),
    )
    ranked = docs.select(
        "lang",
        "doc_id",
        F.row_number()
        .over(
            W.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rn"),
    )
    avail = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_avail")
    )
    picks = ranked.join(F.broadcast(quota), "lang").where(
        F.col("rn") <= F.col("quota")
    )
    return (
        quota.join(avail, "lang", "left")
        .join(
            picks.groupBy("lang").agg(
                F.count("*").cast("bigint").alias("n_picked"),
                F.sum("doc_id").cast("bigint").alias("picked_checksum"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            F.coalesce("n_avail", F.lit(0)).cast("bigint").alias("n_avail"),
            F.col("quota").cast("bigint").alias("quota"),
            F.coalesce("n_picked", F.lit(0)).cast("bigint").alias("n_picked"),
            F.coalesce("picked_checksum", F.lit(0))
            .cast("bigint")
            .alias("picked_checksum"),
        )
    )


@query(
    "curation_neyman_allocation",
    oracle="""
WITH s AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(n_chars AS DECIMAL(38,0))
                  * CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
  FROM documents
  GROUP BY lang
),
sd AS (
  SELECT lang, n_docs,
         ROUND(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                    / CAST(n_docs AS DOUBLE)
                    / CAST(n_docs - 1 AS DOUBLE)), 6) AS s_chars
  FROM s
  WHERE n_docs >= 2
),
w AS (
  SELECT lang, n_docs, s_chars,
         CAST(ROUND(CAST(n_docs AS DOUBLE) * s_chars * 1000.0, 0)
              AS BIGINT) AS w_milli
  FROM sd
),
tot AS (
  SELECT SUM(w_milli) AS tw, SUM(n_docs) AS tn,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM w
),
seats AS (
  SELECT w.lang, w.n_docs, w.s_chars, w.w_milli,
         (500 * w.w_milli) // tot.tw AS q0n,
         (500 * w.w_milli) % tot.tw AS remn,
         (500 * w.n_docs) // tot.tn AS q0p,
         (500 * w.n_docs) % tot.tn AS remp
  FROM w, tot
),
lo AS (
  SELECT 500 - SUM(q0n) AS leftn, 500 - SUM(q0p) AS leftp FROM seats
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY remn DESC, lang) AS rn,
         ROW_NUMBER() OVER (ORDER BY remp DESC, lang) AS rp
  FROM seats
)
SELECT r.lang, r.n_docs, r.s_chars, r.w_milli,
       CAST(r.q0n + CASE WHEN r.rn <= lo.leftn THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_neyman,
       CAST(r.q0p + CASE WHEN r.rp <= lo.leftp THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_prop
FROM ranked r, lo
""",
)
def curation_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-optimal (Neyman 1934) stratified sample allocation: a
    500-document annotation/eval budget split across language strata
    proportional to N_h * S_h -- stratum size TIMES within-stratum
    standard deviation of document length -- against the PROPORTIONAL
    allocation baseline in the same row. This is the survey-sampling
    face of the sampling family: curation_mixture_allocation takes
    target weights as GIVEN (data mixing), this DERIVES the weights
    that minimize the estimator variance for a fixed budget (eval-set
    and labeling-budget design). High-variance strata buy more seats
    than their headcount alone would.

    Exactness: per-stratum moment sums are DECIMAL(38,0) integers
    (n_chars is integral); S_h is the one libm sqrt, rounded 6dp both
    sides, then re-integerized as w_milli = round(N_h * S_h * 1000) so
    EVERY seat computation downstream -- Hamilton largest-remainder
    quotas (integer div/mod, leftover seats to the largest remainders,
    ties by language) -- is pure integer arithmetic, no float seat
    math and no order-dependent double totals. Plan: one grouped
    moment aggregate over documents (the only corpus-sized pass), then
    O(langs) windows and a broadcast 1-row total join -- the
    mixture-allocation shape. Strata with n_docs < 2 (undefined S_h)
    are excluded by identical guards. Reference has no sampling
    surface (survey 2.4)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    d38 = "decimal(38,0)"
    x = F.col("n_chars").cast(d38)
    s = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(x).cast(d38).alias("sx"),
        F.sum(x * x).cast(d38).alias("sxx"),
    )
    sd = s.where(F.col("n_docs") >= 2).select(
        "lang",
        "n_docs",
        F.round(
            F.sqrt(
                (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                / F.col("n_docs").cast("double")
                / (F.col("n_docs") - 1).cast("double")
            ),
            6,
        ).alias("s_chars"),
    )
    w = sd.select(
        "*",
        F.round(
            F.col("n_docs").cast("double") * F.col("s_chars") * 1000.0, 0
        )
        .cast("bigint")
        .alias("w_milli"),
    )
    wc = w.localCheckpoint()
    tot = wc.agg(
        F.sum("w_milli").alias("tw"),
        F.sum("n_docs").alias("tn"),
    )
    seats = wc.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "s_chars",
        "w_milli",
        F.expr("(500 * w_milli) div tw").alias("q0n"),
        ((500 * F.col("w_milli")) % F.col("tw")).alias("remn"),
        F.expr("(500 * n_docs) div tn").alias("q0p"),
        ((500 * F.col("n_docs")) % F.col("tn")).alias("remp"),
    )
    lo = seats.agg(
        (F.lit(500) - F.sum("q0n")).alias("leftn"),
        (F.lit(500) - F.sum("q0p")).alias("leftp"),
    )
    ranked = seats.select(
        "*",
        F.row_number().over(W.orderBy(F.desc("remn"), "lang")).alias("rn"),
        F.row_number().over(W.orderBy(F.desc("remp"), "lang")).alias("rp"),
    )
    return ranked.crossJoin(F.broadcast(lo)).select(
        "lang",
        "n_docs",
        "s_chars",
        "w_milli",
        (
            F.col("q0n")
            + F.when(F.col("rn") <= F.col("leftn"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_neyman"),
        (
            F.col("q0p")
            + F.when(F.col("rp") <= F.col("leftp"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_prop"),
    )


_SQL_TOKCNT = r"len(regexp_split_to_array(trim(lower(text)), '\s+'))"


@query(
    "curation_data_budget",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                       ELSE {_SQL_TOKCNT} END) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
capped AS (
  SELECT source, n_tokens,
         1 + CAST(('0x' || substring(md5(source), 1, 15)) AS BIGINT) % 5
           AS repeat_cap,
         n_tokens *
         (1 + CAST(('0x' || substring(md5(source), 1, 15)) AS BIGINT) % 5)
           AS cap_tokens
  FROM per_src
),
tot AS (SELECT 2 * SUM(n_tokens) AS budget, COUNT(*) AS s FROM capped),
ranked AS (
  SELECT capped.*, tot.budget, tot.s,
         ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS rnk,
         SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
                               ROWS UNBOUNDED PRECEDING) AS pfx
  FROM capped, tot
),
sat AS (
  SELECT *,
         cap_tokens <= (budget - (pfx - cap_tokens)) // (s - rnk + 1)
           AS saturated
  FROM ranked
),
stats AS (
  SELECT CAST(SUM(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN saturated THEN cap_tokens ELSE 0 END)
              AS BIGINT) AS pk
  FROM sat
),
lvl AS (
  SELECT sat.*, stats.k,
         stats.s2 AS m, stats.rem,
         CASE WHEN stats.s2 = 0 THEN 0
              ELSE stats.rem // stats.s2 END AS lam,
         CASE WHEN stats.s2 = 0 THEN 0
              ELSE stats.rem % stats.s2 END AS r
  FROM sat, (SELECT k, pk, (SELECT s FROM tot) - k AS s2,
                    (SELECT budget FROM tot) - pk AS rem
             FROM stats) stats
),
unsat_rn AS (
  SELECT *,
         CASE WHEN saturated THEN CAST(0 AS BIGINT)
              ELSE ROW_NUMBER() OVER (PARTITION BY saturated
                                      ORDER BY source) END AS urn
  FROM lvl
)
SELECT source, n_tokens, CAST(repeat_cap AS BIGINT) AS repeat_cap,
       CAST(cap_tokens AS BIGINT) AS cap_tokens,
       CAST(CASE WHEN saturated THEN cap_tokens
                 ELSE lam + CASE WHEN urn <= r THEN 1 ELSE 0 END
            END AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (CASE WHEN saturated THEN cap_tokens
                            ELSE lam + CASE WHEN urn <= r THEN 1 ELSE 0 END
                       END) * 1000 // n_tokens END AS BIGINT)
         AS epochs_milli,
       saturated
FROM unsat_rn
""",
)
def curation_data_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-capped token-budget allocation across sources — the
    data-constrained-scaling mix step (Muennighoff et al. 2023: when
    the budget exceeds unique data, sources repeat up to a per-source
    epoch cap; Hoffmann-style budgets decide how much of each source to
    actually draw). Each source carries a deterministic repeat
    tolerance R in [1, 5] (md5-derived policy stand-in: wiki-class
    sources tolerate many epochs, crawl-class few), capping its
    contribution at R * n_tokens; the total budget B = 2x the unique
    corpus is WATER-FILLED: small-cap sources saturate, the rest share
    the remainder equally (largest-remainder seats by source name).
    Output per source: unique tokens, cap, allocated tokens, epochs in
    milli (alloc*1000 div n), and the saturated flag.

    The saturation set is computed RELATIONALLY on the cap-sorted dim:
    source i is saturated iff cap_i <= (B - prefix_{{i-1}}) div
    (S-i+1); for any i past the true boundary k, B - prefix_{{i-1}} <
    lambda*(S-i+1) (each skipped cap exceeds lambda), so the test is
    provably false there — the prefix test IS the exact water-fill,
    no iteration. Conservation: allocations sum to exactly B while any
    source is unsaturated, else to the cap total (reported, not
    padded). All integer arithmetic; the oracle mirrors every floor
    division. Plan: ONE corpus scan for per-source token sums, then
    windows over the O(sources) dim — at 100 TB the scan is the only
    corpus-scale stage (the mixture/Neyman-allocation contract)."""
    from ..functions.text import whitespace_tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    per_src = (
        docs.select(
            "source", F.size(whitespace_tokens("text")).alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n_tokens"))
    )
    capped = per_src.select(
        "source",
        "n_tokens",
        (
            1
            + F.conv(F.substring(F.md5("source"), 1, 15), 16, 10)
            .cast("bigint")
            % 5
        ).alias("repeat_cap"),
    ).select(
        "*", (F.col("n_tokens") * F.col("repeat_cap")).alias("cap_tokens")
    )
    cc = capped.localCheckpoint()
    tot = cc.agg(
        (2 * F.sum("n_tokens")).alias("budget"),
        F.count("*").alias("s"),
    )
    from pyspark.sql import Window as W

    # bounded-dim windows: the frame is the O(sources) policy table,
    # never the corpus (the mixture/Neyman single-partition contract)
    order = W.orderBy("cap_tokens", "source")
    ranked = cc.crossJoin(F.broadcast(tot)).select(
        "*",
        F.row_number().over(order).alias("rnk"),
        F.sum("cap_tokens").over(order.rowsBetween(W.unboundedPreceding, 0)).alias("pfx"),
    )
    sat = ranked.select(
        "*",
        (
            F.col("cap_tokens")
            <= F.expr("(budget - (pfx - cap_tokens)) div (s - rnk + 1)")
        ).alias("saturated"),
    )
    sc = sat.localCheckpoint()
    stats = sc.agg(
        F.sum(F.when(F.col("saturated"), 1).otherwise(0))
        .cast("bigint")
        .alias("k"),
        F.sum(F.when(F.col("saturated"), F.col("cap_tokens")).otherwise(0))
        .cast("bigint")
        .alias("pk"),
    )
    lvl = sc.crossJoin(F.broadcast(stats)).select(
        "*",
        (F.col("s") - F.col("k")).alias("m"),
        (F.col("budget") - F.col("pk")).alias("rem"),
    ).select(
        "*",
        F.when(F.col("m") == 0, F.lit(0))
        .otherwise(F.expr("rem div m"))
        .alias("lam"),
        F.when(F.col("m") == 0, F.lit(0))
        .otherwise(F.expr("rem % m"))
        .alias("r"),
    )
    urn = lvl.select(
        "*",
        F.when(F.col("saturated"), F.lit(0).cast("bigint"))
        .otherwise(
            F.row_number()
            .over(W.partitionBy("saturated").orderBy("source"))
            .cast("bigint")
        )
        .alias("urn"),
    )
    alloc = F.when(F.col("saturated"), F.col("cap_tokens")).otherwise(
        F.col("lam") + F.when(F.col("urn") <= F.col("r"), 1).otherwise(0)
    )
    allocated = urn.select(
        "source",
        "n_tokens",
        F.col("repeat_cap").cast("bigint").alias("repeat_cap"),
        F.col("cap_tokens").cast("bigint").alias("cap_tokens"),
        alloc.cast("bigint").alias("alloc_tokens"),
        "saturated",
    )
    return allocated.select(
        "source",
        "n_tokens",
        "repeat_cap",
        "cap_tokens",
        "alloc_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("alloc_tokens * 1000 div n_tokens"))
        .cast("bigint")
        .alias("epochs_milli"),
        "saturated",
    )
