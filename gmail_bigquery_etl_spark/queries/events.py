"""Event-stream queries (batch form).

The streaming module (gmail_bigquery_etl_spark/streaming/) runs the same
aggregations under Structured Streaming with watermarks; these batch
versions are the oracle-checkable equivalents (cross-checked against the
streaming results in tests, SURVEY.md §5.5).

Scale notes:
  * time-window aggs are groupBy over a derived bucket column -- one shuffle,
    partial aggregation map-side;
  * sessionization is a per-user window (shuffle on user_id), the standard
    gaps-and-islands plan; skewed users would need salting, noted inline;
  * the range join is the bucketed-equi-join pattern (bucket by day, then
    refine), NOT a nested-loop -- the only shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..catalog import load_table
from ..fixtures import cached_dir, fresh_dir
from .registry import query


def _dec(col: F.Column) -> F.Column:
    return col.cast("decimal(18,4)")


@query(
    "events_json_extract",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "events_tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
        )
    )


@query(
    "events_sliding_6h_3h",
    oracle="""
WITH buckets AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, value,
         to_timestamp(3600 * 3 * CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / (3600 * 3)) AS BIGINT)) AS aligned
  FROM events
), expanded AS (
  SELECT CAST(aligned - INTERVAL 3 HOUR AS TIMESTAMP) AS window_start, value FROM buckets
  UNION ALL
  SELECT CAST(aligned AS TIMESTAMP) AS window_start, value FROM buckets
)
SELECT window_start, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM expanded
GROUP BY window_start
""",
)
def events_sliding_6h_3h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (6h length, 3h slide): each event lands in 2 windows.
    F.window emits a struct; we project window.start so the oracle can
    reproduce it relationally (explode-to-slides is exactly what Spark's
    physical plan does for sliding windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@query(
    "events_sessionization",
    oracle="""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
         CASE WHEN LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM ordered
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_seq
""",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30 min inactivity gap).

    Scale: shuffles once on user_id; a pathological power-user key would
    need salting (split the user's timeline, stitch boundary sessions) --
    the streaming module's session_window handles this incrementally.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = tagged.withColumn("session_seq", F.sum("is_new_session").over(wrun))
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "events_transition_matrix",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
FROM pairs
""",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream:
    consecutive (prev -> next) event-type bigrams via lag, counted and
    row-normalized into transition probabilities -- the sequence-mining
    summary behind next-action models and funnel diagnostics. One shuffle
    on user_id for the lag, one tiny shuffle on the K x K type pairs; the
    normalizing window runs over at most K rows per prev_type. p is an
    exact bigint ratio, so the 6dp rounding is engine-stable."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wp = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wp), 6).alias("p"),
    )


@query(
    "events_anomaly_zscore",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT user_id, h, n,
         COUNT(*) OVER w AS cnt,
         SUM(n) OVER w AS s1,
         SUM(n * n) OVER w AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY user_id)
),
scored AS (
  SELECT user_id, h, n,
         CAST(s1 AS DOUBLE) / cnt AS mean,
         (CAST(s2 AS DOUBLE) / cnt) - (CAST(s1 AS DOUBLE) / cnt) * (CAST(s1 AS DOUBLE) / cnt) AS m2
  FROM stats WHERE cnt >= 24
)
SELECT user_id, h, n,
       ROUND((n - mean) / sqrt(m2), 6) AS z
FROM scored
WHERE m2 > 0 AND abs((n - mean) / sqrt(m2)) >= 3
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity anomaly detection: standardize each ACTIVE hour's
    event count against that user's own hourly distribution (integer
    power sums over the whole user partition -- exact and associative)
    and emit the >= 3-sigma hours. Users with under a day of active hours
    are skipped (a z-score against 3 observations is noise). One shuffle
    on user_id; mean/variance derive from integer sums so the doubles are
    engine-identical, and the z expression shares one tree with the
    oracle (sqrt, plain multiplies)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("user_id")
    n = F.col("n")
    stats = hourly.select(
        "user_id",
        "h",
        "n",
        F.count("*").over(w).alias("cnt"),
        F.sum(n).over(w).alias("s1"),
        F.sum(n * n).over(w).alias("s2"),
    ).filter(F.col("cnt") >= 24)
    mean = F.col("s1").cast("double") / F.col("cnt")
    m2 = (F.col("s2").cast("double") / F.col("cnt")) - mean * mean
    z = (n - mean) / F.sqrt(m2)
    return (
        stats.withColumn("mean", mean)
        .withColumn("m2", m2)
        .filter((F.col("m2") > 0) & (F.abs((n - F.col("mean")) / F.sqrt(F.col("m2"))) >= 3))
        .select(
            "user_id",
            "h",
            "n",
            F.round((n - F.col("mean")) / F.sqrt(F.col("m2")), 6).alias("z"),
        )
    )


@query(
    "events_gap_fill_hourly",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  -- the spine series below is bounded at 20000 hours (~2.3 years); a
  -- user whose activity span exceeds it must ERROR loudly (divergence
  -- from Spark's unbounded sequence()), never silently truncate
  SELECT user_id, MIN(h) AS hmin, MAX(h) AS hmax,
         CASE WHEN date_diff('hour', MIN(h), MAX(h)) > 20000
              THEN CAST(error('gap_fill hour spine bound (20000) exceeded')
                        AS BIGINT)
              ELSE date_diff('hour', MIN(h), MAX(h)) END AS span
  FROM hourly GROUP BY user_id
),
spine AS (
  SELECT b.user_id, b.hmin + k * INTERVAL 1 HOUR AS h
  FROM bounds b, generate_series(0, 20000) t(k)
  WHERE k <= b.span
),
joined AS (
  SELECT s.user_id, s.h,
         COALESCE(hh.n, 0) AS n_events,
         hh.total_value
  FROM spine s LEFT JOIN hourly hh ON hh.user_id = s.user_id AND hh.h = s.h
)
SELECT user_id, h, n_events,
       LAST_VALUE(total_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM joined
""",
)
def events_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling + forward fill: densify each user's hourly
    activity onto a complete spine between their first and last active
    hour (sequence() + explode generates the missing rows -- the
    row-GENERATING shape the rest of the corpus lacks), left-join the real
    hourly aggregates, zero-fill counts, and carry the last observed
    hourly total forward across gaps with a running
    last_value(ignorenulls). Scale: the spine is bounded by user-activity
    spans (never a global cross join), the join is an equi-join on
    (user, hour), and the fill window rides the same user_id
    partitioning. The oracle builds the identical spine with a bounded
    generate_series + span filter (DuckDB lacks lateral column args to
    table functions)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count("*").alias("n"),
        F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
        .select(
            "user_id",
            F.explode(
                F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        "total_value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "h",
        "n_events",
        F.last("total_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@query(
    "events_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS act_week
  FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT) AS weeks_since,
       COUNT(DISTINCT a.user_id) AS n_users
FROM act a JOIN firsts f USING (user_id)
WHERE a.act_week >= f.cohort_week
GROUP BY 1, 2
""",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users cohorted by first-PURCHASE week
    (first-any-event would collapse every user into the fixture's opening
    week), counted once per (cohort, weeks-since-cohort) they were active
    in -- the standard product-analytics retention matrix. Shape: one
    aggregation to find each user's cohort week, one distinct over
    (user, active week), then a join back on user_id and a count-distinct
    rollup; every shuffle keys on user_id or the small (cohort, offset)
    pair, nothing quadratic. Week truncation is ISO-Monday in both
    engines, so offsets are exact multiples of 7 days. (Week columns stay
    TIMESTAMP: DATE outputs survive check_oracle's fetch path but not
    the pandas mirror, where DuckDB upcasts DATE to datetime64.)"""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        act.join(firsts, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "events_funnel_conversion",
    oracle="""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
         CASE WHEN LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM ordered
), s1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id, session_seq) AS t_view
  FROM sessions
), s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id, session_seq) AS t_click
  FROM s1
), s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id, session_seq) AS t_purchase
  FROM s2
), per_sess AS (
  SELECT user_id, session_seq, MIN(ts) AS session_start,
         MIN(t_view) AS t_view, MIN(t_click) AS t_click,
         MIN(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id, session_seq
)
SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day,
       COUNT(*) AS n_sessions,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM per_sess GROUP BY 1
""",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED multi-step funnel within sessions: view -> click (strictly
    after the first view) -> purchase (strictly after that click), the
    product-analytics shape plain per-type counts can't express (a
    purchase BEFORE the first view must not convert the session).

    Composition: gaps-and-islands sessionization (one shuffle on user_id),
    then three chained per-session MIN windows -- each step's timestamp
    conditions on the previous step's, so the chain is inherently
    sequential, but all three windows share the user_id partitioning and
    the final per-session/per-day aggregates cluster on a prefix of it:
    ONE wide shuffle total, then a small day-level rollup. Step chains of
    depth k cost k window passes over co-partitioned data, never k joins.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = tagged.withColumn("session_seq", F.sum("is_new_session").over(wrun))
    per_sess_w = W.partitionBy("user_id", "session_seq")
    typed = F.col("event_type")
    ts = F.col("ts")
    steps = (
        sess.withColumn(
            "t_view",
            F.min(F.when(typed == "view", ts)).over(per_sess_w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when((typed == "click") & (ts > F.col("t_view")), ts)
            ).over(per_sess_w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when((typed == "purchase") & (ts > F.col("t_click")), ts)
            ).over(per_sess_w),
        )
    )
    per_sess = steps.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return per_sess.groupBy(
        F.date_trunc("day", F.col("session_start")).alias("day")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("t_view").isNotNull().cast("bigint")).alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("bigint")).alias("n_view_click"),
        F.sum(F.col("t_purchase").isNotNull().cast("bigint")).alias(
            "n_view_click_purchase"
        ),
    )


@query(
    "events_asof_last_purchase",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts
FROM events
""",
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (most recent purchase at or before each event) expressed as a
    running last_value(ignorenulls) -- the single-pass formulation of an
    as-of join against the same keyed stream. One shuffle on user_id; no
    per-row probe. For two distinct streams, union them with a side tag and
    apply the same window (operators/asof.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(purchase_ts, ignorenulls=True).over(w).alias("last_purchase_ts"),
    )


@query(
    "events_range_join_daily",
    oracle="""
SELECT o.o_orderkey AS orderkey, COUNT(e.event_id) AS n_events
FROM (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0) o
LEFT JOIN events e
  ON CAST(e.ts AS TIMESTAMP) >= o.o_orderdate + INTERVAL 9496 DAY
 AND CAST(e.ts AS TIMESTAMP) <  o.o_orderdate + INTERVAL 9497 DAY
GROUP BY o.o_orderkey
""",
)
def events_range_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via the bucketed-equi-join pattern: both sides bucket to
    the calendar day, equi-join on the bucket, then refine with the exact
    range predicate. The interval width (1 day) == bucket width, so each
    probe row joins at most 2 buckets -- at 100 TB this stays a hash join,
    never a nested loop. (Order dates are 1995-2001, events 2024: the probe
    window is shifted by 9496 days to land in event time.)"""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            (F.col("o_orderdate") + F.expr("INTERVAL 9496 DAY")).alias("win_start"),
        )
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 1 DAY"))
    )
    ev = load_table(spark, sf_dir, "events")
    # Bucket both sides by day; a window spanning a day boundary probes both
    # buckets via explode of the (at most 2) covered days.
    o_b = o.withColumn(
        "day",
        F.explode(
            F.array_distinct(
                F.array(
                    F.date_trunc("day", "win_start"),
                    F.date_trunc("day", F.col("win_end") - F.expr("INTERVAL 1 SECOND")),
                )
            )
        ),
    )
    ev_b = ev.withColumn("day", F.date_trunc("day", "ts"))
    joined = o_b.join(
        ev_b,
        (o_b.day == ev_b.day) & (ev_b.ts >= o_b.win_start) & (ev_b.ts < o_b.win_end),
        "left",
    )
    return joined.groupBy(F.col("o_orderkey").alias("orderkey")).agg(
        F.count("event_id").alias("n_events")
    )


@query(
    "skew_salted_user_counts",
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
""",
)
def skew_salted_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (operators/skew.py): partial agg on
    (user_id, salt) spreads a hot user over 16 tasks, final merge on
    user_id. The oracle is the plain GROUP BY -- salting must be
    result-invariant; only the shuffle layout changes."""
    from ..operators.skew import salted_counts_sums

    ev = load_table(spark, sf_dir, "events")
    out = salted_counts_sums(
        ev,
        key="user_id",
        salt_from="event_id",
        sum_cols={"total_value": F.sum(_dec(F.col("value")))},
        n_salts=16,
    )
    return out.select(
        "user_id", "n", F.col("total_value").cast("double").alias("total_value")
    )


@query(
    "join_salted_skew",
    oracle="""
WITH dim AS (SELECT DISTINCT user_id AS d_user, user_id % 5 AS segment FROM events)
SELECT e.user_id, d.segment, COUNT(*) AS n
FROM events e JOIN dim d ON e.user_id = d.d_user
GROUP BY e.user_id, d.segment
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join (operators/skew.salted_join): the big (skewed)
    side salts on a high-cardinality disambiguator, the small dim side is
    broadcast-replicated across all salts, and the join key becomes
    (user_id, salt) -- a hot user's probe rows spread over 16 buckets. The
    plain-join oracle pins result invariance: salting only moves bytes."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select(F.col("user_id"))
        .distinct()
        .select("user_id", F.pmod("user_id", F.lit(5)).alias("segment"))
    )
    joined = salted_join(
        ev.select("user_id", "event_id"),
        dim,
        key="user_id",
        salt_from="event_id",
        n_salts=16,
    )
    return joined.groupBy("user_id", "segment").agg(F.count("*").alias("n"))


def _events_parted_layout(spark: SparkSession, sf_dir: str) -> str:
    """Hive-style events layout (.../event_type=X/), built once per
    process and shared by the static- and dynamic-pruning queries;
    returns its dir."""

    def _build(out: str) -> None:
        # project to the needed columns and co-locate each partition's rows
        # before writing: one file per event_type directory, not one per
        # (task x partition)
        (
            load_table(spark, sf_dir, "events")
            .select("user_id", "value", "event_type")
            .repartition("event_type")
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )

    return cached_dir("ev_parted", sf_dir, _build)


@query(
    "scan_partition_pruned",
    oracle="""
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
""",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: events re-laid-out
    as .../event_type=X/ directories (once per session), then a predicate on
    the partition column prunes entire directories at planning time -- the
    scan never lists, opens, or decodes the other partitions' files. At
    100 TB this (with date partitioning) is the first radix of every query;
    the oracle is the same filter over the flat layout."""
    out = _events_parted_layout(spark, sf_dir)
    # explicit schema: an EMPTY source writes a partitioned dir with no
    # partition subdirs, and schema inference would fail the cold start
    parted = (
        spark.read.schema("user_id bigint, value double, event_type string")
        .parquet(out)
        .filter(F.col("event_type") == "purchase")
    )
    return parted.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
    )


@query(
    "events_daily_from_hourly",
    oracle="""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_daily_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate (hypertable-rollup) pattern: the daily rollup is
    RE-AGGREGATED from the hourly rollup, never from raw events -- count and
    decimal-sum are decomposable, so merging partials is exact. The oracle
    aggregates raw events directly: both paths must agree, which is the
    correctness contract that makes rollup reuse safe at 100 TB (the hourly
    table is ~1/3600th of raw)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(_dec(F.col("value"))).alias("tv"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour_start")).alias("day_start"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("tv").cast("double").alias("total_value"),
        )
    )


@query(
    "events_asof_join_op",
    oracle="""
WITH purchases AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
       p.purchase_value,
       p.ts AS _asof_ts
FROM events e
ASOF LEFT JOIN purchases p
  ON e.user_id = p.user_id AND CAST(e.ts AS TIMESTAMP) >= p.ts
""",
)
def events_asof_join_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalized two-stream as-of operator (operators/asof.py,
    union+window single pass) gated against DuckDB's NATIVE ASOF JOIN --
    an independent implementation of the same semantics."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    left = ev.select("event_id", "user_id", "ts")
    return asof_join(left, purchases, on="user_id")


@query(
    "stream_stateful_user_counts",
    oracle="""
WITH agg AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
  FROM events GROUP BY user_id
),
last AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT agg.user_id, agg.n_events, agg.total_value,
       last.event_type AS last_event_type
FROM agg JOIN last ON agg.user_id = last.user_id AND last.rn = 1
""",
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin for the custom stateful streaming operator: actually RUNS
    ``running_user_counts`` (streaming/stateful.py, applyInPandasWithState)
    over the events table as a Structured Streaming job (availableNow),
    lands every update-mode emission, and reduces to each user's FINAL
    state. The oracle is the plain GROUP BY + last-event window the final
    state must equal: state totals accumulate in scaled int64, so the
    result is order-independent and decimal-exact, and ties on ts break by
    event_id inside the operator exactly as in the oracle's ORDER BY."""
    import os

    from ..streaming.stateful import running_user_counts

    run_dir = fresh_dir("stateful_twin", sf_dir)
    sink, ckpt = os.path.join(run_dir, "sink"), os.path.join(run_dir, "ckpt")

    path = os.path.join(sf_dir, "events.parquet")
    # same TIMESTAMP(NANOS)-vs-MICROS handling as catalog.load_table,
    # readStream form: only long (nanosAsLong) fixtures need the truncation
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(raw_schema)
        # the file stream source wants a DIRECTORY; events.parquet is one
        # file, so stream the parent dir filtered down to that file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        # NTZ -> TimestampType, same normalization as catalog.load_table
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    stream = stream.select("event_id", "ts", "user_id", "event_type", "value")
    updates = running_user_counts(stream)

    def land(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    q = (
        updates.writeStream.foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stateful stream did not finish within 300s; refusing to read "
            "a partially-written sink"
        )

    # final state per user = the update with the largest running count
    # (n_events strictly increases across a user's emissions). Explicit
    # schema + exists-guard: an empty source stream lands no batch, so
    # the sink dir may be missing entirely (cold start).
    from ..streaming.stateful import OUTPUT_SCHEMA

    if os.path.isdir(sink):
        emitted = spark.read.schema(OUTPUT_SCHEMA).parquet(sink)
    else:
        emitted = spark.createDataFrame([], OUTPUT_SCHEMA)
    return (
        emitted.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_events", "total_value", "last_event_type")
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
            F.col("s.last_event_type").alias("last_event_type"),
        )
    )


@query(
    "events_dedup_first_arrival",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(event_id AS DECIMAL(18,0))) AS BIGINT) AS id_sum,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM (
  SELECT DISTINCT * FROM (
    SELECT * FROM events
    UNION ALL
    SELECT * FROM events WHERE event_id % 7 = 0
  )
)
GROUP BY event_type
""",
)
def events_dedup_first_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dedup operator (streaming/dedup.py):
    a retransmitted slice (every 7th event arrives twice, byte-identical
    -- the reference API's retry behavior) collapses back to exactly-once
    via dedup_events. On batch input that is exact dropDuplicates on
    event_id; the streaming path (dropDuplicatesWithinWatermark, bounded
    state) is proven stream==batch by tests/test_streaming.py. id_sum
    pins WHICH rows survive, not just how many."""
    from ..streaming.dedup import dedup_events

    ev = load_table(spark, sf_dir, "events")
    retransmitted = ev.unionAll(ev.filter(F.col("event_id") % 7 == 0))
    return (
        dedup_events(retransmitted)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("event_id").cast("decimal(18,0)"))
            .cast("bigint")
            .alias("id_sum"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# --- Per-group linear regression (built-in regr_* aggregates) ------------------

@query(
    "events_regr_trend",
    oracle="""
WITH pts AS (
  SELECT user_id, value,
         (epoch_us(ts) - 1704067200000000) / 86400000000.0 AS x
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id,
       COUNT(*) AS n_points,
       ROUND(regr_slope(value, x), 4) AS slope,
       ROUND(regr_intercept(value, x), 4) AS intercept
FROM pts
GROUP BY user_id
HAVING COUNT(DISTINCT x) >= 2
""",
)
def events_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of purchase value over time via the ANSI
    regr_slope/regr_intercept aggregates -- per-group model fitting stays a
    single partial+final hash aggregate (co-moment accumulators), no
    applyInPandas and no second pass. x is exact integer micros since
    2024-01-01 scaled to days; slopes are rounded to 4 decimals on both
    sides (libm-free, but the co-moment division is float).

    The COUNT(DISTINCT x) >= 2 guard removes zero-variance groups whose
    slope is an engine-dependent NULL/NaN."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor_us = 1704067200000000  # 2024-01-01T00:00:00Z in micros
    pts = ev.select(
        "user_id",
        "value",
        ((F.unix_micros(F.col("ts")) - F.lit(anchor_us)) / 86400000000.0).alias("x"),
    )
    return (
        pts.groupBy("user_id")
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.regr_slope(F.col("value"), F.col("x")), 4).alias("slope"),
            F.round(F.regr_intercept(F.col("value"), F.col("x")), 4).alias(
                "intercept"
            ),
            F.countDistinct("x").alias("_nx"),
        )
        .filter(F.col("_nx") >= 2)
        .drop("_nx")
    )


# --- Interval (stream-stream-shaped) join --------------------------------------

@query(
    "events_interval_join",
    oracle="""
SELECT p.user_id,
       COUNT(*) AS n_pairs,
       CAST(SUM(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE) AS click_value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >  p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
GROUP BY p.user_id
""",
)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks attributed to a purchase within the preceding hour: an equi
    join on user_id with a time-range residual -- the batch twin of a
    watermarked stream-stream interval join (tests/test_streaming.py runs
    the streaming form and asserts it matches this). Hash join on the equi
    key; the range predicate stays a residual filter, never a cartesian."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"), "value"
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.sum(_dec(F.col("value"))).cast("double").alias("click_value"),
    )


# --- Mergeable-sketch rollup (HLL hourly -> daily) -----------------------------

@query(
    "events_hll_daily_rollup",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events
GROUP BY 1
""",
)
def events_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: hourly HLL sketches unioned into daily
    cardinalities WITHOUT touching raw rows twice -- the pattern that lets a
    100 TB pipeline keep pre-aggregated hourly sketches and serve any
    coarser rollup by merge alone. Like agg_approx_tolerance, the oracle
    contract is the tolerance: approx_ok asserts the merged-sketch estimate
    lands within 5% of the exact count (HLL sketches are order-insensitive,
    so the flag is deterministic)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
    exact = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(daily, "day").select(
        "day",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_ok"),
    )


@query(
    "events_interval_join_outer",
    oracle="""
SELECT p.user_id,
       COUNT(*) AS n_rows,
       COUNT(c.ts) AS n_matched,
       CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(18,4))), 0) AS DOUBLE)
         AS click_value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >  p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
GROUP BY p.user_id
""",
)
def events_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join, batch form of streaming/joins.py's outer
    mode (this query calls THAT operator, so the driver gate exercises the
    exact code the stream runs): purchases with no qualifying click keep a
    null-click row. Same equi-key + range-residual shape as the inner
    form."""
    from ..streaming.joins import interval_join_pairs

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    pairs = interval_join_pairs(ev, join_type="left_outer")
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        F.count("c_ts").alias("n_matched"),
        F.coalesce(F.sum(_dec(F.col("value"))), F.lit(0).cast("decimal(18,4)"))
        .cast("double")
        .alias("click_value"),
    )


# --- Collection aggregates (array-valued result columns) -----------------------

@query(
    "agg_collect_arrays",
    oracle="""
SELECT user_id % 100 AS bucket,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       COUNT(DISTINCT event_type) AS n_types,
       COUNT(*) AS n_events
FROM events
GROUP BY 1
""",
)
def agg_collect_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregation: collect_set + sort_array gives a
    DETERMINISTIC array result (collect_list order is partition-dependent
    and would never hash-match an oracle -- the sort is the portability
    contract). One partial+final hash aggregate. The sorted array is
    emitted as a canonical comma-joined string: the driver's pandas
    canonicalizer sort_values a result frame before hashing, and a raw
    list cell is unhashable there -- array_join keeps the array-agg
    semantics under test while presenting a sortable row."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy((F.col("user_id") % 100).alias("bucket")).agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
        F.countDistinct("event_type").alias("n_types"),
        F.count("*").alias("n_events"),
    )


# --- Positional explode (LATERAL / UNNEST WITH ORDINALITY) ---------------------

@query(
    "events_posexplode_props",
    oracle="""
WITH toks AS (
  SELECT event_id,
         unnest(string_split(event_type, '')) AS ch,
         generate_subscripts(string_split(event_type, ''), 1) AS pos
  FROM events
  WHERE event_id % 997 = 0
)
SELECT ch,
       CAST(pos - 1 AS INT) AS pos,
       COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM toks
GROUP BY 1, 2
""",
)
def events_posexplode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (UNNEST WITH ORDINALITY): each row fans out to
    (position, element) pairs -- the lateral-view shape. posexplode keeps
    the ordinal so downstream logic can be position-aware; the generated
    rows flow straight into a partial-aggregated rollup (Generate never
    materializes the fan-out to storage)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 997 == 0
    )
    chars = ev.select(
        "event_id",
        F.posexplode(F.split(F.col("event_type"), "")).alias("pos", "ch"),
    )
    return chars.groupBy("ch", "pos").agg(
        F.count("*").alias("n"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


@query(
    "events_rfm_scores",
    oracle="""
WITH anchor AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events),
per_user AS (
  SELECT user_id,
         CAST(date_diff('day', MAX(CAST(ts AS TIMESTAMP)), a.mx) AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS monetary
  FROM events CROSS JOIN anchor a
  WHERE event_type = 'purchase'
  GROUP BY user_id, a.mx
)
SELECT user_id, recency_days, frequency, monetary,
       NTILE(5) OVER (ORDER BY recency_days, user_id) AS r_score,
       NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
       NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
FROM per_user
""",
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (days since last purchase,
    anchored at the corpus max -- a 1-row broadcast), frequency, and
    decimal-exact monetary total, each quintile-scored with NTILE over a
    user_id-tiebroken total order. The standard marketing-analytics
    scoring pass: one purchase-filtered aggregate, then three ranking
    windows over the user-level table (users-sized, not events-sized)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    anchor = ev.agg(F.max("ts").alias("mx"))
    per_user = (
        purchases.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "mx")
        .agg(
            F.max("ts").alias("_last"),
            F.count("*").alias("frequency"),
            F.sum(_dec(F.col("value"))).cast("double").alias("monetary"),
        )
        .select(
            "user_id",
            F.datediff("mx", "_last").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(W.orderBy("recency_days", "user_id")).alias("r_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(5)
        .over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
        .alias("m_score"),
    )


@query(
    "events_ewma_halflife",
    oracle="""
WITH r AS (
  SELECT user_id, event_id, CAST(value AS DECIMAL(18,4)) AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
),
j AS (
  SELECT a.user_id, a.event_id,
         SUM(b.v * (CAST(1 AS BIGINT) << (15 - (a.rn - b.rn)))) AS num,
         SUM(CAST(1 AS BIGINT) << (15 - (a.rn - b.rn))) AS den
  FROM r a JOIN r b
    ON b.user_id = a.user_id AND b.rn BETWEEN a.rn - 15 AND a.rn
  GROUP BY a.user_id, a.event_id
)
SELECT user_id, event_id, ROUND(CAST(num AS DOUBLE) / den, 6) AS ewma
FROM j
""",
)
def events_ewma_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (half-life = one
    event, trailing 16-event window) in EXACT integer arithmetic: weight
    for the event d steps back is 2^(15-d) -- a bigint shift, never a
    float pow -- so numerator and denominator are exact decimals and the
    single double division at the end is deterministic (numerator stays
    under 2^53 in 1e-4 units, so even the decimal->double cast is exact).

    Plan shape: ONE shuffle (the user_id window sort); the trailing
    window rides a ROWS frame collect_list and the weighted fold is a
    JVM HOF (transform + aggregate) -- no per-row Python and, unlike the
    oracle's self-join formulation, no 16x row blow-up: the array frame
    is O(W) per row locally, the classic streaming-features trade. The
    smoothing alpha=1/2 makes this the dyadic EWMA variant monitoring
    pipelines use for exact-reproducible alerting baselines."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, W.currentRow)
    )
    arr = F.collect_list(_dec(F.col("value"))).over(w)
    out = ev.select("user_id", "event_id", arr.alias("arr")).select(
        "user_id",
        "event_id",
        F.expr(
            "aggregate("
            "  transform(arr, (x, j) ->"
            "    CAST(x * shiftleft(CAST(1 AS BIGINT),"
            "                       15 - (size(arr) - 1 - j)) AS DECIMAL(38,4))),"
            "  CAST(0 AS DECIMAL(38,4)), (acc, t) -> acc + t)"
        ).alias("num"),
        F.expr(
            "CAST(65536 AS BIGINT)"
            " - shiftleft(CAST(1 AS BIGINT), 16 - size(arr))"
        ).alias("den"),
    )
    return out.select(
        "user_id",
        "event_id",
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias("ewma"),
    )


@query(
    "events_time_weighted_avg",
    oracle="""
WITH r AS (
  SELECT user_id, CAST(value AS DECIMAL(18,4)) AS v,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec,
         LEAD(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events WHERE value IS NOT NULL
),
w AS (
  SELECT user_id, SUM(v * (nxt - sec)) AS num, SUM(nxt - sec) AS den
  FROM r WHERE nxt IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       ROUND(CAST(num AS DOUBLE) / den, 6) AS twap,
       CAST(den AS BIGINT) AS total_seconds
FROM w WHERE den > 0
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP, the market-data
    aggregate): each observation is weighted by how long it REMAINED
    current (epoch-second gap to the next event, an exact bigint), so a
    value held for an hour counts 3600x a value replaced within a
    second. Numerator stays an exact DECIMAL (value DECIMAL(18,4) x
    bigint seconds -- magnitudes sized to keep even the final
    decimal->double cast exact under 2^53), denominator an exact bigint;
    one double division at the end, rounded. Plan: ONE user_id shuffle
    shared by the LEAD window and the rollup -- Catalyst reuses the sort
    order, no second exchange. Users whose events all share one second
    (zero total weight) are excluded on both sides rather than emitting
    a NaN."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id",
        "ts",
        "event_id",
        _dec(F.col("value")).alias("v"),
        F.unix_timestamp("ts").alias("sec"),
    ).withColumn("nxt", F.lead("sec").over(w))
    agg = (
        r.where(F.col("nxt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("v") * (F.col("nxt") - F.col("sec"))).alias("num"),
            F.sum(F.col("nxt") - F.col("sec")).alias("den"),
        )
        .where(F.col("den") > 0)
    )
    return agg.select(
        "user_id",
        F.round(F.col("num").cast("double") / F.col("den"), 6).alias("twap"),
        F.col("den").cast("long").alias("total_seconds"),
    )


@query(
    "events_corr_matrix",
    oracle="""
WITH ud AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         event_type, SUM(CAST(value AS DECIMAL(18,4))) AS s
  FROM events GROUP BY 1, 2, 3
),
days AS (SELECT DISTINCT user_id, day FROM ud),
types AS (SELECT DISTINCT event_type FROM ud),
filled AS (
  SELECT d.user_id, d.day, t.event_type,
         COALESCE(u.s, CAST(0 AS DECIMAL(18,4))) AS v
  FROM days d CROSS JOIN types t
  LEFT JOIN ud u ON u.user_id = d.user_id AND u.day = d.day
                AND u.event_type = t.event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n,
         SUM(a.v) AS sx, SUM(b.v) AS sy,
         SUM(a.v * a.v) AS sxx, SUM(b.v * b.v) AS syy,
         SUM(a.v * b.v) AS sxy
  FROM filled a JOIN filled b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, CAST(n AS BIGINT) AS n,
       ROUND(
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
         6) AS corr
FROM pairs
""",
)
def events_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation MATRIX across event types, computed
    over zero-filled per-user-day activity vectors (a user-day with no
    clicks contributes 0, not a missing row -- the spine cross join that
    makes correlations well-defined). All five co-moments are EXACT
    decimal sums; doubles appear only in the final closed-form corr and
    both engines evaluate the identical expression tree over identical
    exact inputs, so the 6dp rounding is engine-stable.

    Scale shape: one groupBy to user-day-type cells, a BROADCAST cross
    join against the O(K) type dimension for the fill (bounded, in the
    plan guard's allowlist class), and a self-join on the (user, day)
    key -- K^2/2 output cells aggregated map-side. Never row x row."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(F.sum(_dec(F.col("value"))).alias("s"))
    ud = ud.localCheckpoint()
    days = ud.select("user_id", "day").distinct()
    types = ud.select("event_type").distinct()
    filled = (
        days.crossJoin(F.broadcast(types))
        .join(ud, ["user_id", "day", "event_type"], "left")
        .select(
            "user_id",
            "day",
            "event_type",
            F.coalesce("s", F.lit(0).cast("decimal(18,4)")).alias("v"),
        )
    )
    a = filled.select(
        "user_id", "day", F.col("event_type").alias("type_a"), F.col("v").alias("va")
    )
    b = filled.select(
        "user_id", "day", F.col("event_type").alias("type_b"), F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, ["user_id", "day"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n"),
            F.sum("va").alias("sx"),
            F.sum("vb").alias("sy"),
            F.sum(F.col("va") * F.col("va")).alias("sxx"),
            F.sum(F.col("vb") * F.col("vb")).alias("syy"),
            F.sum(F.col("va") * F.col("vb")).alias("sxy"),
        )
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    return pairs.select(
        "type_a",
        "type_b",
        n.cast("long").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr"),
    )


@query(
    "events_mutual_information",
    oracle="""
WITH cells AS (
  SELECT event_type, EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS h,
         COUNT(*) AS nxy
  FROM events GROUP BY 1, 2
),
mx AS (SELECT event_type, SUM(nxy) AS nx FROM cells GROUP BY 1),
my AS (SELECT h, SUM(nxy) AS ny FROM cells GROUP BY 1),
tot AS (SELECT SUM(nxy) AS n FROM cells),
contrib AS (
  SELECT c.event_type,
         CAST(ROUND(
           (CAST(c.nxy AS DOUBLE) / tot.n)
             * ln(CAST(c.nxy AS DOUBLE) * tot.n / (mx.nx * my.ny)),
           10) AS DECIMAL(18,10)) AS part
  FROM cells c
  JOIN mx ON mx.event_type = c.event_type
  JOIN my ON my.h = c.h
  CROSS JOIN tot
)
SELECT event_type, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS mi_nats
FROM contrib GROUP BY event_type
""",
)
def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day (the
    feature-relevance screen): per-type contribution sums of
    p(x,y)*ln(p(x,y)/(p(x)p(y))) over the 24-hour contingency table.
    Counts are exact bigints from one groupBy; each cell's libm
    contribution is quantized to DECIMAL(18,10) BEFORE the per-type sum
    (the BM25 pattern) so addition order cannot move the 6dp result.
    Plan: one shuffle to the K x 24 cell table, then broadcast-size
    marginal joins -- the contingency table never leaves the cluster,
    only K rows return."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("h")
    ).agg(F.count("*").alias("nxy"))
    cells = cells.localCheckpoint()
    mx = cells.groupBy("event_type").agg(F.sum("nxy").alias("nx"))
    my = cells.groupBy("h").agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))
    contrib = (
        cells.join(mx, "event_type")
        .join(my, "h")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.round(
                (F.col("nxy").cast("double") / F.col("n"))
                * F.log(
                    F.col("nxy").cast("double")
                    * F.col("n")
                    / (F.col("nx") * F.col("ny"))
                ),
                10,
            )
            .cast("decimal(18,10)")
            .alias("part"),
        )
    )
    return contrib.groupBy("event_type").agg(
        F.round(F.sum("part").cast("double"), 6).alias("mi_nats")
    )


@query(
    "events_psi_drift",
    oracle="""
WITH bounds AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
),
bucketed AS (
  SELECT e.event_type,
         CASE WHEN e.ts < TIMESTAMP '2024-02-01' THEN 0 ELSE 1 END AS half,
         LEAST(CAST(FLOOR((e.value - b.lo)
                          / (GREATEST(b.hi - b.lo, 1e-300) / 10.0)) AS INT), 9)
           AS bucket
  FROM events e CROSS JOIN bounds b
),
cells AS (
  SELECT event_type, bucket,
         COUNT(*) FILTER (WHERE half = 0) + 1 AS n0,
         COUNT(*) FILTER (WHERE half = 1) + 1 AS n1
  FROM bucketed GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(n0) AS t0, SUM(n1) AS t1
  FROM cells GROUP BY 1
),
contrib AS (
  SELECT c.event_type,
         CAST(ROUND(
           (CAST(c.n0 AS DOUBLE) / t.t0 - CAST(c.n1 AS DOUBLE) / t.t1)
             * ln((CAST(c.n0 AS DOUBLE) / t.t0) / (CAST(c.n1 AS DOUBLE) / t.t1)),
           10) AS DECIMAL(18,10)) AS part
  FROM cells c JOIN tot t ON t.event_type = c.event_type
)
SELECT event_type, ROUND(CAST(SUM(part) AS DOUBLE), 6) AS psi
FROM contrib GROUP BY event_type
""",
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index per event type: the distribution-drift
    monitor (credit-scoring heritage, now the standard training-data
    drift alarm). Values bucket into 10 equal-width bins over the global
    range; the January vs rest-of-fixture halves are compared with
    add-one smoothing (a bucket empty on one side must not produce
    ln(0)). Counts are exact bigints; each bucket's libm contribution is
    DECIMAL-quantized before the per-type sum (the BM25/MI pattern) so
    the 6dp result is order-independent. Plan: one groupBy to K x 10
    cells against a 1-row broadcast bounds agg -- drift monitoring costs
    one pass however big the fact table."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bucketed = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("ts") < F.lit("2024-02-01").cast("timestamp"), 0)
        .otherwise(1)
        .alias("half"),
        # greatest(width, tiny) guards the all-values-equal corpus
        # (hi == lo => width 0 => floor(NaN) throws under ANSI); with
        # the guard every value lands in bucket 0, both engines agree.
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / (F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-300)) / 10.0)
            ).cast("int"),
            F.lit(9),
        ).alias("bucket"),
    )
    cells = bucketed.groupBy("event_type", "bucket").agg(
        (F.count(F.when(F.col("half") == 0, 1)) + 1).alias("n0"),
        (F.count(F.when(F.col("half") == 1, 1)) + 1).alias("n1"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    p0 = F.col("n0").cast("double") / F.col("t0")
    p1 = F.col("n1").cast("double") / F.col("t1")
    contrib = cells.join(tot, "event_type").select(
        "event_type",
        F.round((p0 - p1) * F.log(p0 / p1), 10)
        .cast("decimal(18,10)")
        .alias("part"),
    )
    return contrib.groupBy("event_type").agg(
        F.round(F.sum("part").cast("double"), 6).alias("psi")
    )


@query(
    "events_conversion_paths",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type, 1) OVER w AS prev1,
         LAG(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev2, prev1, COUNT(*) AS n_conversions
FROM seq
WHERE event_type = 'purchase' AND prev1 IS NOT NULL AND prev2 IS NOT NULL
GROUP BY 1, 2
""",
)
def events_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pre-conversion paths: for every purchase, the exact two-event
    path that led to it (lag-2 window over each user's timeline),
    counted by path -- the sequence-mining complement to the ordered
    funnel (which fixes the steps and asks how many complete) and the
    Markov matrix (which is memoryless; this is the order-2 evidence
    that justifies or refutes it). One user_id shuffle for both lags,
    then a K^2-cell rollup; exact integer counts."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    )
    return (
        seq.where(
            (F.col("event_type") == "purchase")
            & F.col("prev1").isNotNull()
            & F.col("prev2").isNotNull()
        )
        .groupBy("prev2", "prev1")
        .agg(F.count("*").alias("n_conversions"))
    )


@query(
    "events_time_to_convert",
    oracle="""
WITH first_click AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'click' GROUP BY user_id
),
conv AS (
  SELECT f.user_id,
         epoch_us(CAST(MIN(e.ts) AS TIMESTAMP)) // 1000000
           - epoch_us(CAST(f.t0 AS TIMESTAMP)) // 1000000 AS delta_sec
  FROM first_click f
  JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts >= f.t0
  GROUP BY f.user_id, f.t0
),
ranked AS (
  SELECT delta_sec,
         ROW_NUMBER() OVER (ORDER BY delta_sec, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM conv
)
SELECT q, CAST(delta_sec AS BIGINT) AS delta_sec
FROM ranked, (VALUES (25), (50), (75), (90)) AS t(q)
WHERE rn = CAST(ceil(q * n / 100.0) AS BIGINT)
""",
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: exact p25/p50/p75/p90 of the
    first-click -> first-subsequent-purchase latency across converting
    users. Quantiles are RANK-SELECTED (element at ceil(q*n/100) under a
    total order), not interpolated -- the discrete definition both
    engines compute identically on exact integer seconds, the same
    determinism trick as the trimmed mean. Plan: two user_id aggregates
    feeding one ordered rank window over the (small) per-user delta set;
    the 4-row quantile dim rides a broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    conv = (
        first_click.join(
            ev.where(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .where(F.col("pts") >= F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("pts").alias("t1"))
        .select(
            "user_id",
            (
                F.unix_timestamp("t1") - F.unix_timestamp("t0")
            ).alias("delta_sec"),
        )
    )
    w = W.orderBy("delta_sec", "user_id")
    ranked = conv.select(
        "delta_sec",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    qdim = F.broadcast(
        ranked.sparkSession.createDataFrame([(25,), (50,), (75,), (90,)], "q int")
    )
    return (
        ranked.crossJoin(qdim)
        .where(
            F.col("rn")
            == F.ceil(F.col("q") * F.col("n") / 100.0).cast("long")
        )
        .select("q", F.col("delta_sec").cast("long").alias("delta_sec"))
    )


@query(
    "events_dashboard_topk",
    oracle="""
WITH ev AS (
  SELECT date_trunc('hour', ts) AS w,
         CAST(user_id AS VARCHAR) AS u,
         event_type AS item
  FROM events
),
h AS (
  SELECT w,
         CAST('0x' || substring(md5(u), 1, 8) AS BIGINT) % 256 AS bucket,
         CAST('0x' || substring(md5(u), 9, 15) AS BIGINT) AS h60
  FROM ev WHERE u IS NOT NULL
),
regs AS (
  SELECT w, bucket,
         MAX(CASE WHEN h60 = 0 THEN 61
                  ELSE 61 - length(bin(h60)) END) AS reg
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT w,
         CAST(SUM(CAST(1 AS BIGINT) << (61 - reg)) AS DECIMAL(38,0))
           AS sum_nonempty,
         COUNT(*) AS n_buckets
  FROM regs GROUP BY 1
),
est0 AS (
  SELECT w,
         (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
           * 2305843009213693952.0
           / CAST(sum_nonempty
                  + CAST(256 - n_buckets AS DECIMAL(38,0))
                    * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE)
           AS raw,
         256 - n_buckets AS zeros
  FROM agg
),
hll AS (
  SELECT w,
         ROUND(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
                    THEN 256.0 * ln(256.0 / zeros)
                    ELSE raw END, 6) AS hll_estimate
  FROM est0
),
keyed AS (
  SELECT w, item, CAST(w AS VARCHAR) || chr(1) || item AS ck FROM ev
),
dim AS (SELECT i FROM generate_series(0, 3) g(i)),
cells AS (
  SELECT d.i,
         CAST('0x' || substring(md5(ck), d.i * 8 + 1, 8) AS BIGINT) % 1024
           AS col,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM keyed CROSS JOIN dim d GROUP BY 1, 2
),
cand AS (SELECT DISTINCT w, item, ck FROM keyed),
estc AS (
  SELECT cand.w, cand.item, CAST(MIN(c.c) AS BIGINT) AS est_count
  FROM cand CROSS JOIN dim d
  JOIN cells c
    ON c.i = d.i
   AND c.col = CAST('0x' || substring(md5(cand.ck), d.i * 8 + 1, 8)
                    AS BIGINT) % 1024
  GROUP BY 1, 2
),
ranked AS (
  SELECT w, item, est_count,
         ROW_NUMBER() OVER (PARTITION BY w ORDER BY est_count DESC, item)
           AS rank
  FROM estc
)
SELECT r.w AS window_start, h.hll_estimate, r.item,
       CAST(r.rank AS INT) AS rank, r.est_count
FROM ranked r JOIN hll h ON h.w = r.w
WHERE r.rank <= 3
""",
)
def events_dashboard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming sketch dashboard's VIEW, gated as a batch query:
    per hour window, the hand-built-HLL distinct-user estimate next to
    the top-3 heavy-hitter event types by CMS estimate -- the live-ops
    panel the streaming sink maintains (streaming/sketches.py), computed
    here from an inline batch build of the identical state triple
    through the identical dashboard_view composition (the pytest parity
    test proves stream-maintained state produces this same view). The
    oracle REBUILDS both sketches relationally per window -- portable
    md5-slice hashes on both engines -- so the composed dashboard is
    bit-exact gated, not just its parts. Plan: two hash aggregates to
    bounded sketch tables (720 windows x 256 registers; 4 x 1024 cells)
    + an O(windows x items) estimate join; fact-table cost is two scans
    however large events gets."""
    from ..streaming.sketches import dashboard_batch_state, dashboard_view

    ev = load_table(spark, sf_dir, "events")
    return dashboard_view(dashboard_batch_state(ev), k=3)


@query(
    "scan_dynamic_partition_pruned",
    oracle="""
WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
dim AS (
  SELECT event_type
  FROM (SELECT event_type, n, AVG(n) OVER () AS a FROM c)
  WHERE n > a
)
SELECT e.event_type, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY 1
""",
)
def scan_dynamic_partition_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC partition pruning, static pruning's join-driven sibling:
    the pruning predicate is not a literal but the RESULT of the dim
    side of a join (event types with ABOVE-AVERAGE row count -- a
    predicate no planner can fold statically, and a non-empty strict
    subset whenever per-type counts differ at all), so Catalyst
    injects a DynamicPruningExpression into the partitioned fact scan
    and the fact side lists/decodes ONLY the directories the broadcast
    dim actually produced at runtime (plan-asserted in
    tests/test_plans.py). At 100 TB this is the star-join radix: fact
    partitions prune on dim filters that change per run, with zero
    manual predicate plumbing. Oracle runs the same join over the flat
    layout."""
    from pyspark.sql import Window as W

    out = _events_parted_layout(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    # the global window runs on the O(event types) count frame, not data
    dim = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .withColumn("a", F.avg("n").over(W.partitionBy()))
        .where(F.col("n") > F.col("a"))
        .select("event_type")
    )
    parted = spark.read.schema(
        "user_id bigint, value double, event_type string"
    ).parquet(out)
    return (
        parted.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
        )
    )


@query(
    "events_winsorized_stats",
    oracle="""
WITH caps AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
),
w AS (
  SELECT e.event_type,
         CAST(ROUND(CASE WHEN e.value < c.lo THEN c.lo
                         WHEN e.value > c.hi THEN c.hi
                         ELSE e.value END, 6) AS DECIMAL(18,6)) AS v6
  FROM events e JOIN caps c USING (event_type)
)
SELECT w.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(v6) AS DOUBLE) / COUNT(*), 6) AS mean_winsorized,
       ROUND(MIN(c.lo), 6) AS p05,
       ROUND(MAX(c.hi), 6) AS p95
FROM w JOIN caps c USING (event_type)
GROUP BY 1
""",
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type statistics via winsorization: each event type's
    values are capped at that type's own exact 5th/95th percentiles
    before averaging -- the outlier treatment that, unlike the trimmed
    mean (agg_trimmed_mean), keeps n constant. Exact interpolated
    percentiles (Spark percentile == DuckDB quantile_cont); the capped
    values quantize to DECIMAL(18,6) so the mean's SUM is
    addition-order-free, leaving only pointwise IEEE ops. Plan: one
    percentile aggregate per type, broadcast back (the caps table is
    O(types)), one final aggregate -- two scans, no window over raw
    events."""
    ev = load_table(spark, sf_dir, "events")
    caps = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    w = ev.join(F.broadcast(caps), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.round(
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value")),
            6,
        ).cast("decimal(18,6)").alias("v6"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("v6").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_winsorized"),
        F.round(F.min("lo"), 6).alias("p05"),
        F.round(F.max("hi"), 6).alias("p95"),
    )


@query(
    "events_anomaly_rolling_zscore",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
base AS (
  SELECT event_type, hour, n,
         SUM(n)     OVER w AS s1,
         SUM(n * n) OVER w AS s2,
         COUNT(*)   OVER w AS k
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT event_type, hour, n, k,
         (CAST(s2 AS DOUBLE) / k) - (CAST(s1 AS DOUBLE) / k) * (CAST(s1 AS DOUBLE) / k) AS var_,
         CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / k AS dev
  FROM base WHERE k >= 12
)
SELECT event_type, hour, n,
       ROUND(dev / sqrt(var_), 4) AS z
FROM scored
WHERE var_ > 0 AND abs(dev / sqrt(var_)) >= 3.0
""",
)
def events_anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: per event type, each observed hour's
    event count is scored against a rolling baseline of the 24 preceding
    observed hours (mean/variance from exact integer sums), and hours
    with |z| >= 3 are flagged. The monitoring primitive a 100 TB ingest
    pipeline runs over its own volume series to catch upstream outages
    (the reference's only health signal is per-batch error logging,
    etl_service/main.py:244-250).

    Determinism: the rolling frame is ROWS over observed hours, so s1/s2/k
    are exact BIGINT sums; mean/variance/z are then pointwise IEEE ops on
    identical inputs in both engines, rounded for output. Plan: one
    groupBy shuffle to hourly counts (partial agg map-side), one window
    shuffle on event_type (O(types) series, each short) -- no self-join,
    no gap-fill scan of raw events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.where(F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    base = hourly.select(
        "event_type",
        "hour",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("k"),
    ).where(F.col("k") >= 12)
    mean = F.col("s1").cast("double") / F.col("k")
    var_ = F.col("s2").cast("double") / F.col("k") - mean * mean
    dev = F.col("n").cast("double") - mean
    scored = base.select(
        "event_type", "hour", "n", var_.alias("var_"), dev.alias("dev")
    )
    return (
        scored.where(
            (F.col("var_") > 0)
            & (F.abs(F.col("dev") / F.sqrt("var_")) >= 3.0)
        )
        .select(
            "event_type",
            "hour",
            "n",
            F.round(F.col("dev") / F.sqrt("var_"), 4).alias("z"),
        )
    )


@query(
    "events_attribution_models",
    oracle="""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
),
touch AS (
  SELECT event_id AS touch_id, user_id, ts AS t_ts, event_type AS channel
  FROM events
  WHERE event_type IN ('click', 'view') AND user_id IS NOT NULL
),
pairs AS (
  SELECT c.conv_id, t.touch_id, t.channel, t.t_ts
  FROM conv c JOIN touch t
    ON c.user_id = t.user_id
   AND t.t_ts < c.c_ts
   AND t.t_ts >= c.c_ts - INTERVAL 7 DAY
),
ranked AS (
  SELECT conv_id, touch_id, channel,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY t_ts, touch_id) AS rn_first,
         ROW_NUMBER() OVER (PARTITION BY conv_id
                            ORDER BY t_ts DESC, touch_id DESC) AS rn_last,
         COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM pairs
),
credits AS (
  SELECT channel, 'first_touch' AS model,
         CAST(CASE WHEN rn_first = 1 THEN 1.0 ELSE 0.0 END
              AS DECIMAL(18,9)) AS credit
  FROM ranked
  UNION ALL
  SELECT channel, 'last_touch',
         CAST(CASE WHEN rn_last = 1 THEN 1.0 ELSE 0.0 END AS DECIMAL(18,9))
  FROM ranked
  UNION ALL
  SELECT channel, 'linear',
         CAST(ROUND(1.0 / n, 9) AS DECIMAL(18,9))
  FROM ranked
  UNION ALL
  SELECT channel, 'position_based',
         CAST(ROUND(CASE
           WHEN n = 1 THEN 1.0
           WHEN n = 2 THEN 0.5
           WHEN rn_first = 1 THEN 0.4
           WHEN rn_last = 1 THEN 0.4
           ELSE 0.2 / (n - 2) END, 9) AS DECIMAL(18,9))
  FROM ranked
)
SELECT model, channel,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credit
FROM credits GROUP BY model, channel
""",
)
def events_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution, the marketing-warehouse workload: every
    purchase distributes one unit of conversion credit over the user's
    click/view touchpoints in the preceding 7 days, under the four
    standard models side by side -- first-touch, last-touch, linear, and
    position-based (the 40/20/40 U-shape) -- summed per channel. One
    query answers the analyst question every attribution comparison
    starts with: how much does channel credit move when the model
    changes?

    Exactness: each credit is an exact rational (1, 1/2, 1/n, 0.4,
    0.2/(n-2)) rounded to 9dp and DECIMAL-summed, so totals are
    bit-identical; per model the credits over one conversion sum to 1
    (up to the 9dp quantum), a conservation law the oracle re-derives.
    Plan: the interval-join shape events_interval_join plans (user
    equi-join, time-range residual -- per-user fan-out is bounded by
    activity, never corpus x corpus), two O(pairs) ranking windows over
    conv_id, a 4-way credit projection union, one final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    ).select(
        F.col("event_id").alias("conv_id"), "user_id", F.col("ts").alias("c_ts")
    )
    touch = ev.where(
        F.col("event_type").isin("click", "view") & F.col("user_id").isNotNull()
    ).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    pairs = conv.join(
        touch,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_ts") < F.col("c_ts"))
        & (F.col("t_ts") >= F.col("c_ts") - F.expr("INTERVAL 7 DAY")),
    ).select("conv_id", "touch_id", "channel", "t_ts")
    wf = W.partitionBy("conv_id").orderBy(F.asc("t_ts"), F.asc("touch_id"))
    wl = W.partitionBy("conv_id").orderBy(
        F.desc("t_ts"), F.desc("touch_id")
    )
    wn = W.partitionBy("conv_id")
    ranked = pairs.select(
        "channel",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
        F.count("*").over(wn).alias("n"),
    ).localCheckpoint()

    def _dec9(col):
        return F.round(col, 9).cast("decimal(18,9)")

    first = ranked.select(
        "channel",
        F.lit("first_touch").alias("model"),
        _dec9(F.when(F.col("rn_first") == 1, 1.0).otherwise(0.0)).alias(
            "credit"
        ),
    )
    last = ranked.select(
        "channel",
        F.lit("last_touch").alias("model"),
        _dec9(F.when(F.col("rn_last") == 1, 1.0).otherwise(0.0)).alias(
            "credit"
        ),
    )
    linear = ranked.select(
        "channel",
        F.lit("linear").alias("model"),
        _dec9(F.lit(1.0) / F.col("n")).alias("credit"),
    )
    position = ranked.select(
        "channel",
        F.lit("position_based").alias("model"),
        _dec9(
            F.when(F.col("n") == 1, F.lit(1.0))
            .when(F.col("n") == 2, F.lit(0.5))
            .when(F.col("rn_first") == 1, F.lit(0.4))
            .when(F.col("rn_last") == 1, F.lit(0.4))
            .otherwise(F.lit(0.2) / (F.col("n") - 2))
        ).alias("credit"),
    )
    credits = first.unionByName(last).unionByName(linear).unionByName(position)
    return credits.groupBy("model", "channel").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.round(F.sum("credit").cast("double"), 6).alias("credit"),
    )


@query(
    "events_ab_test_zstat",
    oracle="""
WITH per_user AS (
  SELECT user_id, user_id % 2 AS cohort,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
),
stats AS (
  SELECT SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS conv_a,
         SUM(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS conv_b
  FROM per_user
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(conv_a AS BIGINT) AS conv_a,
       CAST(conv_b AS BIGINT) AS conv_b,
       ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
       ROUND(CASE WHEN n_a > 0 AND n_b > 0
                   AND conv_a + conv_b > 0
                   AND conv_a + conv_b < n_a + n_b
             THEN (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                  / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                         * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))
             END, 6) AS z_stat,
       CASE WHEN n_a > 0 AND n_b > 0
             AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
             AND abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                  / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                         * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                         * (1.0 / n_a + 1.0 / n_b))) > 1.959964
            THEN TRUE ELSE FALSE END AS significant
FROM stats
WHERE n_a > 0 AND n_b > 0
""",
)
def events_ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test (the pooled z-test every
    experimentation platform runs): users split into deterministic
    cohorts (user_id parity -- the hash-bucket assignment an experiment
    framework uses, minus the hash), per-user conversion = any purchase,
    and the pooled z statistic with the 5% two-sided decision
    (|z| > 1.959964). The CDF is deliberately NOT computed -- erf is not
    portable across engines -- the statistic and the decision against
    the literal critical value are, exactly. Degenerate designs (empty
    cohort, all/none converted) emit NULL z rather than NaN, identical
    CASE guards both sides.

    Plan: one per-user conversion aggregate (the same shuffle the RFM /
    cohort queries pay), one global conditional-sum aggregate, pure
    projection arithmetic on exact integers -- scan-bound at any scale;
    the z computation is a closed form over 4 BIGINTs. Inputs being
    exact integers makes the emitted statistic bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("cohort"), "conv")
    )
    stats = per_user.agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("cohort") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("cohort") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    ra = F.col("conv_a").cast("double") / F.col("n_a")
    rb = F.col("conv_b").cast("double") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    ok = (
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("conv_a") + F.col("conv_b") > 0)
        & (F.col("conv_a") + F.col("conv_b") < F.col("n_a") + F.col("n_b"))
    )
    z = (ra - rb) / F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return stats.where((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(F.when(ok, z), 6).alias("z_stat"),
        F.when(ok & (F.abs(z) > 1.959964), F.lit(True))
        .otherwise(F.lit(False))
        .alias("significant"),
    )


@query(
    "events_cusum_changepoints",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS t
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.hr, h.x, tot.n, tot.t,
         h.x * tot.n - tot.t AS d
  FROM hourly h JOIN tot ON tot.event_type = h.event_type
),
cum AS (
  SELECT event_type, hr, n, t,
         SUM(d) OVER (PARTITION BY event_type ORDER BY hr
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM dev
),
cusum AS (
  SELECT event_type, hr, n, t,
         c - LEAST(MIN(c) OVER (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
  FROM cum
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_hours,
       CAST(COUNT(CASE WHEN s > t THEN 1 END) AS BIGINT) AS n_alarm_hours,
       CAST(strftime(MIN(CASE WHEN s > t THEN hr END),
                     '%Y-%m-%d %H:00') AS VARCHAR) AS first_alarm,
       ROUND(CAST(MAX(s) AS DOUBLE) / MAX(t), 6) AS max_cusum_ratio
FROM cusum GROUP BY event_type
""",
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (Page 1954, the sequential drift
    detector behind every volume-shift monitor): per event type, the
    one-sided cumulative sum of hourly-count deviations from the type's
    own mean, reset at zero. The recurrence S_t = max(0, S_{t-1} + d_t)
    is deliberately NOT computed as a recurrence -- it equals
    cumsum_t - min(0, running-min of cumsums up to and including t),
    two plain window passes, so the detector is fully relational (no
    UDAF, no driver loop, no state). Arithmetic stays EXACT-INTEGER by scaling
    deviations by n_hours (d = x*n - T has mean 0 with no division);
    the alarm fires when S integrates more than one full mean-hour of
    excess (S > T). Complements the rolling z-score monitor: CUSUM
    detects small sustained LEVEL SHIFTS the pointwise z-score never
    trips on.

    Plan: one (type, hour) aggregate, one O(types) scalar join, two
    O(types x hours) windows, one final rollup -- scan-bound; the
    windows partition by type, so no global sort. First-alarm hour is
    emitted as a string (the DATE/TIMESTAMP fetch-coercion rule)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    tot = hourly.groupBy(F.col("event_type").alias("e2")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("t"),
    )
    dev = hourly.join(
        F.broadcast(tot), F.col("event_type") == F.col("e2")
    ).select(
        "event_type",
        "hr",
        "n",
        "t",
        (F.col("x") * F.col("n") - F.col("t")).alias("d"),
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # running min INCLUDES the current row: s = c_t - min(0, min_{j<=t} c_j)
    # is exactly Page's reset identity max(0, S_{t-1} + d_t) -- with the
    # current row excluded, s would go negative on a new cumsum minimum
    # where the recurrence gives 0 (same fix mirrored in the oracle)
    cum = dev.withColumn("c", F.sum("d").over(wcum))
    cusum = cum.withColumn(
        "s",
        F.col("c") - F.least(F.min("c").over(wcum), F.lit(0)),
    )
    return cusum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_hours"),
        F.count(F.when(F.col("s") > F.col("t"), 1))
        .cast("bigint")
        .alias("n_alarm_hours"),
        F.date_format(
            F.min(F.when(F.col("s") > F.col("t"), F.col("hr"))),
            "yyyy-MM-dd HH:00",
        )
        .cast("string")
        .alias("first_alarm"),
        F.round(F.max("s").cast("double") / F.max("t"), 6).alias(
            "max_cusum_ratio"
        ),
    )


@query(
    "events_mad_anomaly",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
sized AS (
  SELECT event_type, hr, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, hr) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
med AS (
  SELECT event_type, x AS med FROM sized WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT s.event_type, s.hr, s.x, m.med, ABS(s.x - m.med) AS d
  FROM sized s JOIN med m ON m.event_type = s.event_type
),
dsized AS (
  SELECT event_type, hr, x, med, d,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d, hr) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, d AS mad FROM dsized WHERE rn = (n + 1) // 2
),
flagged AS (
  SELECT v.event_type, v.hr, v.x, v.med, a.mad,
         CASE WHEN v.d * 10000 > 44478 * a.mad THEN 1 ELSE 0 END AS is_anom
  FROM dev v JOIN mad a ON a.event_type = v.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(MAX(med) AS BIGINT) AS med,
       CAST(MAX(mad) AS BIGINT) AS mad,
       CAST(SUM(is_anom) AS BIGINT) AS n_anomalies,
       CAST(strftime(MIN(CASE WHEN is_anom = 1 THEN hr END),
                     '%Y-%m-%d %H:00') AS VARCHAR) AS first_anomaly
FROM flagged GROUP BY 1
""",
)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by median absolute deviation (the
    Hampel filter's test statistic): per event type, hours where
    |x - median| > 3 * 1.4826 * MAD. Complements the rolling z-score
    monitor (mean/stddev are themselves dragged by the outliers they
    should flag -- masking; median/MAD have a 50% breakdown point) and
    CUSUM (level shifts vs point outliers).

    agg_mad_robust is the dispersion-profiling sibling (per-group MAD
    outlier counts over orders via interpolated percentiles); this is
    the TIME-SERIES monitor form with an exact-integer contract and a
    first-alarm timestamp.

    Exactness: 'median' is the LOWER median by rank ((n+1)//2 over a
    (value, hour) total order) -- a member of the data, never an
    interpolated float, so med and MAD are exact integers and the
    Hampel test is the integer comparison d * 10000 > 44478 * mad
    (4.4478 = 3 * 1.4826 scaled) -- no float enters the query at all.
    Plan: one (type, hour) aggregate, two rank windows partitioned by
    type (no global sort), two O(types) broadcast joins, one final
    rollup -- scan-bound and linear; the rank-median costs one sort of
    each type's hours, the same shape the winsorized/percentile family
    already pays."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").cast("bigint").alias("x"))
    wtype = W.partitionBy("event_type")
    sized = hourly.select(
        "event_type",
        "hr",
        "x",
        F.row_number().over(wtype.orderBy("x", "hr")).alias("rn"),
        F.count("*").over(wtype).alias("n"),
    )
    med = sized.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("x").alias("med"))
    dev = sized.join(F.broadcast(med), "event_type").select(
        "event_type",
        "hr",
        "x",
        "med",
        F.abs(F.col("x") - F.col("med")).alias("d"),
    )
    dsized = dev.select(
        "*",
        F.row_number().over(wtype.orderBy("d", "hr")).alias("rn"),
        F.count("*").over(wtype).alias("n"),
    )
    mad = dsized.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("d").alias("mad"))
    flagged = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "hr",
        "med",
        "mad",
        (F.col("d") * 10000 > 44478 * F.col("mad")).cast("int").alias(
            "is_anom"
        ),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.max("med").cast("bigint").alias("med"),
        F.max("mad").cast("bigint").alias("mad"),
        F.sum("is_anom").cast("bigint").alias("n_anomalies"),
        F.date_format(
            F.min(F.when(F.col("is_anom") == 1, F.col("hr"))),
            "yyyy-MM-dd HH:00",
        )
        .cast("string")
        .alias("first_anomaly"),
    )


@query(
    "events_survival_km",
    oracle="""
WITH t0 AS (
  SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY 1
),
conv AS (
  SELECT e.user_id, MIN(e.ts) AS tc
  FROM events e JOIN t0 ON t0.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= t0.t0
  GROUP BY 1
),
horizon AS (SELECT MAX(ts) AS tmax FROM events),
durs AS (
  SELECT t0.user_id,
         CASE WHEN c.tc IS NOT NULL
                AND CAST(FLOOR(date_diff('second', t0.t0, c.tc) / 3600.0) AS BIGINT) <= 120
              THEN CAST(FLOOR(date_diff('second', t0.t0, c.tc) / 3600.0) AS BIGINT)
              ELSE LEAST(120, CAST(FLOOR(date_diff('second', t0.t0, h.tmax) / 3600.0) AS BIGINT))
         END AS dur,
         CASE WHEN c.tc IS NOT NULL
                AND CAST(FLOOR(date_diff('second', t0.t0, c.tc) / 3600.0) AS BIGINT) <= 120
              THEN 1 ELSE 0 END AS e
  FROM t0 LEFT JOIN conv c ON c.user_id = t0.user_id CROSS JOIN horizon h
),
per_t AS (
  SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(e) AS BIGINT) AS d
  FROM durs GROUP BY 1
),
risk AS (
  SELECT dur, n_total, d,
         SUM(n_total) OVER (ORDER BY dur DESC
                            ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM per_t
),
terms AS (
  SELECT dur, n_risk, d,
         CASE WHEN d < n_risk
              THEN CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
                        AS DECIMAL(18,9))
              ELSE CAST(0 AS DECIMAL(18,9)) END AS lt,
         CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk
),
surv AS (
  SELECT dur, n_risk, d,
         SUM(lt) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS cum,
         MAX(hit_zero) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS z
  FROM terms
)
SELECT CAST(dur AS BIGINT) AS t_hours,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN z = 1 THEN 0.0
            ELSE ROUND(exp(CAST(cum AS DOUBLE)), 6) END AS survival
FROM surv WHERE d > 0
""",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve (the product-limit estimator, 1958)
    for time-to-first-purchase WITH CENSORING -- the analysis
    events_time_to_convert cannot do: users who never purchase (or
    purchase past the 120 h horizon) are right-censored at their
    observed follow-up, not dropped, so the curve is unbiased where a
    converters-only latency quantile is survivor-biased. S(t) =
    prod_{t_i <= t} (1 - d_i / n_i) over event hours, with n_i the
    at-risk count (duration >= t_i).

    Relational shape: durations aggregate to ONE ROW PER DISTINCT HOUR
    (<= 121 rows by the horizon), the at-risk counts are a reverse
    cumulative sum window over that bounded table, and the product is
    exp of a cumulative sum of 9dp-DECIMAL-quantized ln terms -- exact
    associative addition, one libm ln/exp per step (the cross-engine
    float rule). The d_i = n_i boundary (everyone remaining converts)
    sets survival exactly 0 via a windowed flag instead of ln(0),
    which the engines disagree on (NULL vs -inf). Plan: two user
    aggregates, one bounded-table window pass -- corpus-sized work is
    two shuffles on user_id."""
    ev = load_table(spark, sf_dir, "events")
    t0 = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .join(t0, "user_id")
        .where(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    horizon = ev.agg(F.max("ts").alias("tmax"))
    dur_conv = F.floor(
        (F.unix_timestamp("tc") - F.unix_timestamp("t0")) / 3600.0
    ).cast("bigint")
    dur_cens = F.least(
        F.lit(120),
        F.floor(
            (F.unix_timestamp("tmax") - F.unix_timestamp("t0")) / 3600.0
        ).cast("bigint"),
    )
    converted = F.col("tc").isNotNull() & (dur_conv <= 120)
    durs = (
        t0.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(converted, dur_conv).otherwise(dur_cens).alias("dur"),
            F.when(converted, 1).otherwise(0).alias("e"),
        )
    )
    per_t = durs.groupBy("dur").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum("e").cast("bigint").alias("d"),
    )
    wdesc = W.orderBy(F.desc("dur")).rowsBetween(W.unboundedPreceding, 0)
    wasc = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    risk = per_t.withColumn("n_risk", F.sum("n_total").over(wdesc))
    terms = risk.select(
        "dur",
        "n_risk",
        "d",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")), 9
            ).cast("decimal(18,9)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,9)"))
        .alias("lt"),
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0).alias("hit_zero"),
    )
    surv = terms.select(
        "dur",
        "n_risk",
        "d",
        F.sum("lt").over(wasc).alias("cum"),
        F.max("hit_zero").over(wasc).alias("z"),
    )
    return surv.where(F.col("d") > 0).select(
        F.col("dur").cast("bigint").alias("t_hours"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("z") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum").cast("double")), 6))
        .alias("survival"),
    )


@query(
    "events_theil_sen_trend",
    oracle="""
WITH daily AS (
  SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(ROUND(CAST(b.x - a.x AS DOUBLE) / (b.d - a.d), 9)
              AS DECIMAL(18,9)) AS slope,
         a.d AS di, b.d AS dj
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, di, dj) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM pairs
),
ts AS (
  SELECT event_type, slope AS ts_slope FROM ranked WHERE rn = (n + 1) // 2
),
ols AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(d) AS sx, SUM(x) AS sy, SUM(d * x) AS sxy, SUM(d * d) AS sxx
  FROM daily GROUP BY 1
)
SELECT o.event_type,
       CAST(o.n AS BIGINT) AS n_days,
       CAST(o.n * (o.n - 1) / 2 AS BIGINT) AS n_pairs,
       ROUND(CAST(t.ts_slope AS DOUBLE), 6) AS ts_slope,
       ROUND(CAST(o.n * o.sxy - o.sx * o.sy AS DOUBLE)
             / (o.n * o.sxx - o.sx * o.sx), 6) AS ols_slope
FROM ols o JOIN ts t ON t.event_type = o.event_type
""",
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend (the median of all pairwise slopes --
    29.3% breakdown point where OLS is broken by one bad day) over the
    per-type daily volume series, reported beside the OLS slope so the
    gate captures the robust-vs-classical gap on the same data. The
    pair set is DAYS^2 within each type -- bounded by the time
    dimension, which grows with calendar time, not corpus size, so the
    quadratic is capped (30 days -> <= 435 pairs/type) however large
    the event table; the corpus-sized work is the one daily aggregate.

    Exactness: slopes are one double division quantized to 9dp DECIMAL,
    the median is the LOWER median by rank under a (slope, day-pair)
    total order (the events_mad_anomaly convention), and the OLS slope
    is computed from EXACT INTEGER sums (n*Sxy - Sx*Sy over bigint
    day-index/count products) with a single final double division --
    no float accumulation anywhere."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("d"),
    ).agg(F.count("*").cast("bigint").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.round(
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.d") - F.col("a.d")),
            9,
        )
        .cast("decimal(18,9)")
        .alias("slope"),
        F.col("a.d").alias("di"),
        F.col("b.d").alias("dj"),
    )
    wtype = W.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wtype.orderBy("slope", "di", "dj")).alias("rn"),
        F.count("*").over(wtype).alias("n"),
    )
    ts = ranked.where(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("event_type", F.col("slope").alias("ts_slope"))
    ols = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("d").alias("sx"),
        F.sum("x").alias("sy"),
        F.sum(F.col("d") * F.col("x")).alias("sxy"),
        F.sum(F.col("d") * F.col("d")).alias("sxx"),
    )
    return ols.join(F.broadcast(ts), "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias("n_pairs"),
        F.round(F.col("ts_slope").cast("double"), 6).alias("ts_slope"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("ols_slope"),
    )


@query(
    "events_ks_drift",
    oracle="""
WITH a AS (
  SELECT value AS v FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
    AND ts < TIMESTAMP '2024-01-08'
),
b AS (
  SELECT value AS v FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
    AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
),
nn AS (SELECT (SELECT COUNT(*) FROM a) AS n, (SELECT COUNT(*) FROM b) AS m),
per_v AS (
  SELECT v, CAST(SUM(ca) AS BIGINT) AS ca_i, CAST(SUM(cb) AS BIGINT) AS cb_i
  FROM (
    SELECT v, 1 AS ca, 0 AS cb FROM a
    UNION ALL
    SELECT v, 0, 1 FROM b
  ) GROUP BY v
),
cum AS (
  SELECT v,
         SUM(ca_i) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         SUM(cb_i) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM per_v
)
SELECT CAST(nn.n AS BIGINT) AS n_a,
       CAST(nn.m AS BIGINT) AS n_b,
       CAST(MAX(ABS(cum.ca * nn.m - cum.cb * nn.n)) AS BIGINT) AS ks_num,
       ROUND(CAST(MAX(ABS(cum.ca * nn.m - cum.cb * nn.n)) AS DOUBLE)
             / (nn.n * nn.m), 6) AS ks_stat,
       CAST(MAX(ABS(cum.ca * nn.m - cum.cb * nn.n))
              > 1.358 * sqrt(CAST(nn.n + nn.m AS DOUBLE) / (nn.n * nn.m))
                * nn.n * nn.m AS BOOLEAN) AS drift_at_5pct
FROM cum CROSS JOIN nn
GROUP BY nn.n, nn.m
""",
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between week-1 and
    week-2 purchase values, computed EXACTLY: D = max_v |F_A(v) -
    F_B(v)| is evaluated as the integer max |ca*m - cb*n| over the
    merged distinct values (cross-multiplied so no float division
    enters the supremum), then scaled once for the reported statistic
    and compared against the alpha=0.05 critical value c(alpha) *
    sqrt((n+m)/nm) with c=1.358. Complements events_psi_drift: PSI is
    binned (insensitive to within-bin shifts and bin-choice dependent);
    KS is distribution-free and binning-free.

    Plan: one filtered scan per week, a per-distinct-value aggregate,
    ONE window pass over the distinct values (ordered by value -- the
    sort is over the value domain, bounded by measurement resolution,
    not row count), one global max. The windowed cumulative counts
    are the two empirical CDFs materialized side by side."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    a = base.where(F.col("ts") < "2024-01-08").select(F.col("value").alias("v"))
    b = base.where(
        (F.col("ts") >= "2024-01-08") & (F.col("ts") < "2024-01-15")
    ).select(F.col("value").alias("v"))
    nn = a.agg(F.count("*").alias("n")).crossJoin(
        b.agg(F.count("*").alias("m"))
    )
    per_v = (
        a.select("v", F.lit(1).alias("ca"), F.lit(0).alias("cb"))
        .unionByName(b.select("v", F.lit(0).alias("ca"), F.lit(1).alias("cb")))
        .groupBy("v")
        .agg(
            F.sum("ca").cast("bigint").alias("ca_i"),
            F.sum("cb").cast("bigint").alias("cb_i"),
        )
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = per_v.select(
        F.sum("ca_i").over(wv).alias("ca"),
        F.sum("cb_i").over(wv).alias("cb"),
    )
    d = cum.crossJoin(F.broadcast(nn)).select(
        "n",
        "m",
        F.abs(F.col("ca") * F.col("m") - F.col("cb") * F.col("n")).alias(
            "dev"
        ),
    )
    return d.groupBy("n", "m").agg(
        F.max("dev").cast("bigint").alias("ks_num"),
    ).select(
        F.col("n").cast("bigint").alias("n_a"),
        F.col("m").cast("bigint").alias("n_b"),
        "ks_num",
        F.round(
            F.col("ks_num").cast("double") / (F.col("n") * F.col("m")), 6
        ).alias("ks_stat"),
        (
            F.col("ks_num")
            > F.lit(1.358)
            * F.sqrt(
                (F.col("n") + F.col("m")).cast("double")
                / (F.col("n") * F.col("m"))
            )
            * F.col("n")
            * F.col("m")
        ).alias("drift_at_5pct"),
    )


@query(
    "events_cumulative_distinct",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
new_by_day AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY 1
)
SELECT CAST(strftime(d.day, '%Y-%m-%d') AS VARCHAR) AS day,
       d.dau,
       COALESCE(n.new_users, 0) AS new_users,
       d.dau - COALESCE(n.new_users, 0) AS returning_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_distinct
FROM daily d LEFT JOIN new_by_day n ON n.day = d.day
""",
)
def events_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The growth dashboard's four headline series in one pass: DAU,
    new users, returning users, and CUMULATIVE distinct users per day --
    the last computed EXACTLY without any running count-distinct state:
    cumulative distinct through day d equals the running SUM of
    first-arrival counts (every user contributes to exactly one day's
    first-arrivals), turning an unbounded-state distinct into one
    first-seen aggregate plus a cumulative-sum window over O(days)
    rows. The same identity is what makes the metric maintainable
    incrementally at 100 TB (new day = yesterday's total + today's
    first-timers); the approximate alternative (events_hll_daily_rollup)
    trades this exactness for mergeable O(k) state. Day emitted as an
    ISO string (the DATE fetch-coercion rule)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    new_by_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    wday = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        daily.join(new_by_day, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
            (F.col("dau") - F.coalesce("new_users", F.lit(0))).alias(
                "returning_users"
            ),
            F.sum(F.coalesce("new_users", F.lit(0)))
            .over(wday)
            .cast("bigint")
            .alias("cumulative_distinct"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").cast("string").alias("day"),
            "dau",
            "new_users",
            "returning_users",
            "cumulative_distinct",
        )
    )


@query(
    "events_calibration_ece",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
           AS n_clicks,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
scored AS (
  SELECT converted,
         CAST(n_clicks AS DOUBLE) / (n_clicks + 5) AS p_hat
  FROM per_user
),
binned AS (
  SELECT LEAST(CAST(FLOOR(p_hat * 10) AS BIGINT), 9) AS bin,
         CAST(ROUND(p_hat, 9) AS DECIMAL(18,9)) AS p9,
         converted
  FROM scored
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(p9) AS DOUBLE) / COUNT(*), 6) AS mean_predicted,
       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS actual_rate,
       ROUND(ABS(CAST(SUM(p9) AS DOUBLE) / COUNT(*)
                 - CAST(SUM(converted) AS DOUBLE) / COUNT(*)), 6)
         AS abs_gap
FROM binned GROUP BY 1
""",
)
def events_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit (the reliability-diagram table behind Expected
    Calibration Error): a deterministic activity-based conversion score
    p_hat = clicks / (clicks + 5) is binned into 10 equal-width buckets
    and each bucket reports mean predicted probability vs ACTUAL
    conversion rate plus the absolute gap -- the per-bin terms whose
    n-weighted sum is ECE (Guo et al. 2017). The eval-harness shape for
    ANY model score landed as a column: swap p_hat for a real model's
    output and the audit is unchanged -- this is the platform primitive,
    the toy score just makes the gate self-contained. Exactness: p_hat
    is one double division quantized to 9dp DECIMAL before the bin
    SUM (addition-order-free); bin ids are integer floor; rates are
    exact integer ratios. Plan: one user aggregate, one 10-group
    aggregate -- two shuffles, scan-bound."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("n_clicks"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("converted"),
    )
    p_hat = F.col("n_clicks").cast("double") / (F.col("n_clicks") + 5)
    binned = per_user.select(
        F.least(F.floor(p_hat * 10).cast("bigint"), F.lit(9)).alias("bin"),
        F.round(p_hat, 9).cast("decimal(18,9)").alias("p9"),
        "converted",
    )
    mean_pred = F.sum("p9").cast("double") / F.count("*")
    actual = F.sum("converted").cast("double") / F.count("*")
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(mean_pred, 6).alias("mean_predicted"),
        F.round(actual, 6).alias("actual_rate"),
        F.round(F.abs(mean_pred - actual), 6).alias("abs_gap"),
    )


@query(
    "events_seasonal_decompose",
    oracle="""
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
seas AS (
  SELECT h,
         CAST(FLOOR((SUM(y) / CAST(COUNT(*) AS DOUBLE)) * 1000 + 0.5)
              AS BIGINT) AS s_milli
  FROM hourly GROUP BY h
),
resid AS (
  SELECT d, h, y, s_milli, y * 1000 - s_milli AS r_milli
  FROM hourly JOIN seas USING (h)
),
stats AS (
  SELECT SUM(CAST(r_milli AS HUGEINT) * r_milli) AS ssq,
         SUM(r_milli) AS sr, COUNT(*) AS n
  FROM resid
),
thr AS (
  SELECT 3.0 * sqrt(CAST(ssq AS DOUBLE) / n
                    - (CAST(sr AS DOUBLE) / n) * (CAST(sr AS DOUBLE) / n))
         AS t3
  FROM stats
)
SELECT CAST(r.d AS VARCHAR) AS day,
       CAST(r.h AS BIGINT) AS hour,
       r.y AS n_events,
       ROUND(r.s_milli / 1000.0, 3) AS seasonal,
       ROUND(r.r_milli / 1000.0, 3) AS residual
FROM resid r CROSS JOIN thr
WHERE ABS(CAST(r.r_milli AS DOUBLE)) > t3
""",
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition + anomaly flags: the hour-of-day profile
    (the dominant season of event traffic) estimated as per-hour means
    over all days, residual = observed - seasonal, and hours whose
    residual exceeds 3 sigma of the residual distribution flagged --
    anomalies scored AGAINST the season, so a quiet 3am spike flags
    while the daily 6pm peak does not (the failure mode of the raw
    z-score this complements). Determinism: seasonal means quantize to
    exact milli-units via FLOOR(mean*1000 + 0.5) (one IEEE division of
    exact integer sums -- identical both engines; the +0.5 floor
    sidesteps the DuckDB-rounds-vs-Spark-truncates cast trap);
    residuals and their sum-of-squares stay exact integers (HUGEINT /
    DECIMAL(38,0) accumulator), and sigma's one sqrt is pointwise on a
    1-row aggregate carried as a broadcast crossJoin. Output bounded by
    days*24 cells."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("ts").cast("date").alias("d"), F.hour("ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("y"))
    seas = hourly.groupBy("h").agg(
        F.floor(
            (F.sum("y") / F.count("*").cast("double")) * 1000 + 0.5
        )
        .cast("bigint")
        .alias("s_milli")
    )
    resid = hourly.join(seas, "h").select(
        "d", "h", "y", "s_milli",
        (F.col("y") * 1000 - F.col("s_milli")).alias("r_milli"),
    )
    stats = resid.agg(
        F.sum(
            F.col("r_milli").cast("decimal(38,0)") * F.col("r_milli")
        ).alias("ssq"),
        F.sum("r_milli").alias("sr"),
        F.count("*").alias("n"),
    )
    thr = stats.select(
        (
            3.0
            * F.sqrt(
                F.col("ssq").cast("double") / F.col("n")
                - (F.col("sr").cast("double") / F.col("n"))
                * (F.col("sr").cast("double") / F.col("n"))
            )
        ).alias("t3")
    )
    return (
        resid.crossJoin(F.broadcast(thr))
        .where(F.abs(F.col("r_milli").cast("double")) > F.col("t3"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("h").cast("bigint").alias("hour"),
            F.col("y").alias("n_events"),
            F.round(F.col("s_milli") / 1000.0, 3).alias("seasonal"),
            F.round(F.col("r_milli") / 1000.0, 3).alias("residual"),
        )
    )


@query(
    "events_conformal_threshold",
    oracle="""
WITH scores AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT)
           + 4 * CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                      AS BIGINT) AS score,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
           AS converted
  FROM events GROUP BY user_id
),
cal AS (SELECT score FROM scores WHERE user_id % 2 = 0 AND converted),
ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
k AS (
  SELECT n_cal,
         GREATEST(CAST(FLOOR((n_cal + 1) * 0.1) AS BIGINT), 0) AS k_idx
  FROM ncal
),
thr AS (
  SELECT k.n_cal, k.k_idx,
         CASE WHEN k.k_idx = 0 THEN NULL ELSE (
           SELECT MIN(score) FROM (
             SELECT score,
                    ROW_NUMBER() OVER (ORDER BY score, score) AS rn
             FROM cal
           ) WHERE rn = k.k_idx
         ) END AS threshold
  FROM k
),
ev AS (
  SELECT score, converted FROM scores WHERE user_id % 2 = 1
)
SELECT t.n_cal, t.k_idx,
       CAST(COALESCE(t.threshold, -1) AS BIGINT) AS threshold,
       CAST(COUNT(CASE WHEN ev.converted THEN 1 END) AS BIGINT) AS n_eval_pos,
       CAST(COUNT(CASE WHEN ev.converted
                       AND ev.score >= COALESCE(t.threshold, -1)
                  THEN 1 END) AS BIGINT) AS n_covered,
       ROUND(CAST(COUNT(CASE WHEN ev.converted
                             AND ev.score >= COALESCE(t.threshold, -1)
                        THEN 1 END) AS DOUBLE)
             / COUNT(CASE WHEN ev.converted THEN 1 END), 6) AS coverage,
       CAST(COUNT(*) AS BIGINT) AS n_eval_all,
       CAST(COUNT(CASE WHEN ev.score >= COALESCE(t.threshold, -1)
                  THEN 1 END) AS BIGINT) AS n_flagged,
       ROUND(CAST(COUNT(CASE WHEN ev.score >= COALESCE(t.threshold, -1)
                        THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS flag_rate
FROM ev CROSS JOIN thr t
GROUP BY t.n_cal, t.k_idx, t.threshold
""",
)
def events_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction calibration (Vovk; Angelopoulos-Bates
    tutorial form) -- the distribution-free coverage guarantee every
    model-serving platform wants beside the ECE audit: calibrate a score
    threshold on the even-user_id half's POSITIVES at the k =
    floor((n+1)*alpha) lower order statistic (alpha = 0.1), then audit
    on the held-out half that >= 90% of true positives score above it
    (marginal coverage), plus the flag-rate (prediction-set efficiency).
    The score is a deterministic integer activity score, so the order
    statistic, threshold, and every count are EXACT -- no float enters
    until the two final rounded ratios. Plan: one per-user aggregate,
    one k-th-order-statistic TakeOrdered over calibration positives
    (never a global sort of all users), one broadcast threshold
    crossJoin, one counting pass."""
    ev = load_table(spark, sf_dir, "events")
    scores = ev.groupBy("user_id").agg(
        (
            F.count("*").cast("bigint")
            + 4
            * F.count(F.when(F.col("event_type") == "purchase", 1)).cast(
                "bigint"
            )
        ).alias("score"),
        (
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0
        ).alias("converted"),
    )
    cal = scores.where((F.col("user_id") % 2 == 0) & F.col("converted"))
    ncal_k = cal.agg(F.count("*").cast("bigint").alias("n_cal")).select(
        "n_cal",
        F.greatest(
            F.floor((F.col("n_cal") + 1) * 0.1).cast("bigint"), F.lit(0)
        ).alias("k_idx"),
    )
    # k-th smallest calibration score WITHOUT a global sort: TakeOrdered
    # k rows (k is small: ~10% of calibration positives), then max.
    from pyspark.sql import Window as W

    kval = ncal_k.collect()[0]
    if kval.k_idx > 0:
        thr_row = (
            cal.orderBy(F.asc("score"))
            .limit(int(kval.k_idx))
            .agg(F.max("score").cast("bigint").alias("threshold"))
        )
    else:
        thr_row = cal.agg(
            F.lit(None).cast("bigint").alias("threshold")
        )
    thr = ncal_k.crossJoin(F.broadcast(thr_row))
    evh = scores.where(F.col("user_id") % 2 == 1)
    covered = F.count(
        F.when(
            F.col("converted")
            & (F.col("score") >= F.coalesce(F.col("threshold"), F.lit(-1))),
            1,
        )
    )
    npos = F.count(F.when(F.col("converted"), 1))
    flagged = F.count(
        F.when(
            F.col("score") >= F.coalesce(F.col("threshold"), F.lit(-1)), 1
        )
    )
    return (
        evh.crossJoin(F.broadcast(thr))
        .groupBy("n_cal", "k_idx", "threshold")
        .agg(
            npos.cast("bigint").alias("n_eval_pos"),
            covered.cast("bigint").alias("n_covered"),
            F.round(covered.cast("double") / npos, 6).alias("coverage"),
            F.count("*").cast("bigint").alias("n_eval_all"),
            flagged.cast("bigint").alias("n_flagged"),
            F.round(flagged.cast("double") / F.count("*"), 6).alias(
                "flag_rate"
            ),
        )
        .select(
            "n_cal",
            "k_idx",
            F.coalesce(F.col("threshold"), F.lit(-1))
            .cast("bigint")
            .alias("threshold"),
            "n_eval_pos",
            "n_covered",
            "coverage",
            "n_eval_all",
            "n_flagged",
            "flag_rate",
        )
    )


@query(
    "events_forecast_backtest",
    oracle="""
WITH hourly AS (
  SELECT CAST(ts AS DATE) AS d, EXTRACT(hour FROM ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
split AS (SELECT MAX(d) - INTERVAL 7 DAY AS cut FROM hourly),
train AS (SELECT h.* FROM hourly h CROSS JOIN split WHERE h.d <= cut),
test AS (SELECT h.* FROM hourly h CROSS JOIN split WHERE h.d > cut),
seas AS (
  SELECT h, CAST(FLOOR((SUM(y) / CAST(COUNT(*) AS DOUBLE)) * 1000 + 0.5)
                 AS BIGINT) AS f_milli
  FROM train GROUP BY h
),
last_val AS (
  SELECT h, arg_max(y, d) * 1000 AS f_milli FROM train GROUP BY h
),
scored AS (
  SELECT 'seasonal_naive' AS model, t.y, s.f_milli
  FROM test t JOIN seas s USING (h)
  UNION ALL
  SELECT 'last_value', t.y, l.f_milli
  FROM test t JOIN last_val l USING (h)
)
SELECT model,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(ABS(y * 1000 - f_milli)) AS BIGINT) AS mae_milli_sum,
       ROUND(SUM(ABS(y * 1000 - f_milli)) / (1000.0 * COUNT(*)), 6) AS mae,
       ROUND(SUM(CAST(ABS(y * 1000 - f_milli) AS DOUBLE)
                 / (y * 1000)) / COUNT(*), 6) AS mape
FROM scored GROUP BY model
""",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest harness -- the eval-harness family applied to
    time series: hold out the final 7 days of hourly volumes, forecast
    each (day, hour) cell with two baselines every forecasting paper
    reports (seasonal-naive = hour-of-day train mean; last-value = the
    hour's most recent train observation), and score MAE + MAPE. The
    baselines ARE the deliverable: any real model must beat the gated
    numbers, and the harness slots it in as a third UNION leg.
    Determinism: forecasts quantize to exact milli-units (the seasonal
    decompose FLOOR(x*1000+0.5) idiom), absolute errors stay exact
    integers; MAPE's per-cell terms are exact-integer ratios evaluated
    pointwise-IEEE identically on both engines and summed over a
    bounded <=168-cell grid before one final round. Plan: one
    hourly aggregate, a 1-row cutoff crossJoin, two 24-row forecast
    dims broadcast onto the 168-cell test grid."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("ts").cast("date").alias("d"), F.hour("ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("y"))
    split = hourly.agg(F.date_sub(F.max("d"), 7).alias("cut"))
    train = hourly.crossJoin(F.broadcast(split)).where(
        F.col("d") <= F.col("cut")
    )
    test = hourly.crossJoin(F.broadcast(split)).where(
        F.col("d") > F.col("cut")
    )
    seas = train.groupBy("h").agg(
        F.floor((F.sum("y") / F.count("*").cast("double")) * 1000 + 0.5)
        .cast("bigint")
        .alias("f_milli")
    )
    last_val = train.groupBy("h").agg(
        (F.expr("max_by(y, d)") * 1000).cast("bigint").alias("f_milli")
    )
    scored = (
        test.join(F.broadcast(seas), "h")
        .select(F.lit("seasonal_naive").alias("model"), "y", "f_milli")
        .unionByName(
            test.join(F.broadcast(last_val), "h").select(
                F.lit("last_value").alias("model"), "y", "f_milli"
            )
        )
    )
    err = F.abs(F.col("y") * 1000 - F.col("f_milli"))
    return scored.groupBy("model").agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(err).cast("bigint").alias("mae_milli_sum"),
        F.round(F.sum(err) / (1000.0 * F.count("*")), 6).alias("mae"),
        F.round(
            F.sum(err.cast("double") / (F.col("y") * 1000)) / F.count("*"),
            6,
        ).alias("mape"),
    )


@query(
    "events_spearman_corr",
    oracle="""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         SUM(CASE WHEN event_type = 'click'
             THEN CAST(value AS DECIMAL(18,4))
             ELSE CAST(0 AS DECIMAL(18,4)) END) AS x,
         SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(value AS DECIMAL(18,4))
             ELSE CAST(0 AS DECIMAL(18,4)) END) AS y
  FROM events
  GROUP BY 1
),
r AS (
  SELECT x, y,
         2 * RANK() OVER (ORDER BY x)
           + COUNT(*) OVER (PARTITION BY x) - 1 AS rx2,
         2 * RANK() OVER (ORDER BY y)
           + COUNT(*) OVER (PARTITION BY y) - 1 AS ry2
  FROM daily
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx2,
         CAST(SUM(ry2) AS BIGINT) AS sy2,
         CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy2,
         CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx2,
         CAST(SUM(ry2 * ry2) AS BIGINT) AS syy2,
         CAST(SUM(x) AS DOUBLE) AS px,
         CAST(SUM(y) AS DOUBLE) AS py,
         CAST(SUM(x * y) AS DOUBLE) AS pxy,
         CAST(SUM(x * x) AS DOUBLE) AS pxx,
         CAST(SUM(y * y) AS DOUBLE) AS pyy
  FROM r
)
SELECT n,
       sxy2 AS rank_comoment,
       CASE WHEN (n * sxx2 - sx2 * sx2) > 0
             AND (n * syy2 - sy2 * sy2) > 0
            THEN ROUND(
              (CAST(n AS DOUBLE) * sxy2 - CAST(sx2 AS DOUBLE) * sy2)
              / sqrt((CAST(n AS DOUBLE) * sxx2 - CAST(sx2 AS DOUBLE) * sx2)
                     * (CAST(n AS DOUBLE) * syy2
                        - CAST(sy2 AS DOUBLE) * sy2)), 6)
            END AS rho_spearman,
       CASE WHEN (n * pxx - px * px) > 0 AND (n * pyy - py * py) > 0
            THEN ROUND((n * pxy - px * py)
                       / sqrt((n * pxx - px * px) * (n * pyy - py * py)), 6)
            END AS rho_pearson
FROM m
""",
)
def events_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) between the daily
    click-value and purchase-value series, reported BESIDE the linear
    Pearson rho over the same exact inputs -- the robust/rank face of
    the correlation family (events_corr_matrix is the Pearson matrix;
    MAD/winsorized/Theil-Sen are the same move for dispersion/trend).
    A monotone-but-nonlinear coupling shows up as |spearman| >>
    |pearson|; a few outlier days show up as the reverse.

    Tie handling is the textbook AVERAGE rank, kept EXACT by carrying
    2*avg_rank = 2*RANK() + count(ties) - 1 as an integer (no .5
    floats); Spearman is then Pearson over the doubled ranks -- the
    factor 2 cancels in the closed form. All co-moments are exact
    (BIGINT for ranks, DECIMAL(18,4) sums for values, cast to double
    only at the 1-row closed form, identical expression both engines);
    degenerate zero-variance series emit NULL via identical guards.
    Plan: one day-grain aggregate (the corpus-sized pass), then rank
    windows over the BOUNDED day domain (~30 rows -- the documented
    bounded-table window idiom) and a 1-row reduce. The rank_comoment
    column pins the exact tie-averaged ranking, not just the rounded
    rho. Reference computes no statistics at all (survey 2.4)."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    zero = F.lit(0).cast("decimal(18,4)")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", _dec(F.col("value")))
            .otherwise(zero)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", _dec(F.col("value")))
            .otherwise(zero)
        ).alias("y"),
    )
    r = daily.select(
        "x",
        "y",
        (
            2 * F.rank().over(W.orderBy("x"))
            + F.count("*").over(W.partitionBy("x"))
            - 1
        ).alias("rx2"),
        (
            2 * F.rank().over(W.orderBy("y"))
            + F.count("*").over(W.partitionBy("y"))
            - 1
        ).alias("ry2"),
    )
    m = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx2"),
        F.sum("ry2").cast("bigint").alias("sy2"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy2"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx2"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy2"),
        F.sum("x").cast("double").alias("px"),
        F.sum("y").cast("double").alias("py"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("pxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("pxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("pyy"),
    )
    n = F.col("n").cast("double")
    svx = n * F.col("sxx2") - F.col("sx2").cast("double") * F.col("sx2")
    svy = n * F.col("syy2") - F.col("sy2").cast("double") * F.col("sy2")
    pvx = n * F.col("pxx") - F.col("px") * F.col("px")
    pvy = n * F.col("pyy") - F.col("py") * F.col("py")
    return m.select(
        "n",
        F.col("sxy2").alias("rank_comoment"),
        F.when(
            (n * F.col("sxx2") - F.col("sx2") * F.col("sx2") > 0)
            & (n * F.col("syy2") - F.col("sy2") * F.col("sy2") > 0),
            F.round(
                (n * F.col("sxy2") - F.col("sx2").cast("double") * F.col("sy2"))
                / F.sqrt(svx * svy),
                6,
            ),
        ).alias("rho_spearman"),
        F.when(
            (pvx > 0) & (pvy > 0),
            F.round(
                (n * F.col("pxy") - F.col("px") * F.col("py"))
                / F.sqrt(pvx * pvy),
                6,
            ),
        ).alias("rho_pearson"),
    )


@query(
    "events_acf_lags",
    oracle="""
WITH hr AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t, COUNT(*) AS c
  FROM events GROUP BY 1
),
bounds AS (SELECT MIN(t) AS mn, MAX(t) AS mx FROM hr),
spine AS (
  SELECT unnest(generate_series((SELECT mn FROM bounds),
                                (SELECT mx FROM bounds))) AS t
),
series AS (
  SELECT s.t, CAST(COALESCE(hr.c, 0) AS BIGINT) AS c
  FROM spine s LEFT JOIN hr ON hr.t = s.t
),
g AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         CAST(SUM(c) AS DECIMAL(38,0)) AS s,
         CAST(SUM(c * c) AS DECIMAL(38,0)) AS q
  FROM series
),
lags AS (SELECT unnest(generate_series(1, 12)) AS lag),
lagged AS (
  SELECT l.lag,
         CAST(COUNT(*) AS DECIMAL(38,0)) AS n_pairs,
         CAST(SUM(a.c * b.c) AS DECIMAL(38,0)) AS p,
         CAST(SUM(a.c) AS DECIMAL(38,0)) AS sa,
         CAST(SUM(b.c) AS DECIMAL(38,0)) AS sb
  FROM lags l
  JOIN series a ON TRUE
  JOIN series b ON b.t = a.t + l.lag
  GROUP BY l.lag
)
SELECT CAST(l.lag AS BIGINT) AS lag,
       CAST(l.n_pairs AS BIGINT) AS n_pairs,
       CAST(g.n * g.n * l.p - g.n * g.s * (l.sa + l.sb)
            + l.n_pairs * g.s * g.s AS BIGINT) AS cov_units,
       CASE WHEN g.n * g.q - g.s * g.s > 0
            THEN ROUND(
              CAST(g.n * g.n * l.p - g.n * g.s * (l.sa + l.sb)
                   + l.n_pairs * g.s * g.s AS DOUBLE)
              / CAST(g.n * (g.n * g.q - g.s * g.s) AS DOUBLE), 6)
            END AS acf
FROM lagged l, g
ORDER BY lag
""",
)
def events_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at lags
    1..12 (Box & Jenkins 1970) -- the diagnostic that tells a capacity/
    anomaly pipeline WHICH seasonality to model before it fits one: a
    daily cycle shows as a ridge rising toward lag 24, short-memory
    burstiness as a fast-decaying lag-1..3 head. Completes the
    time-series family: seasonal decomposition ASSUMES the 24h period
    this measures, CUSUM/MAD flag level shifts, the backtest scores
    forecasts.

    The series is the GAP-FILLED hourly count (a silent hour is c=0,
    not a missing row -- the same spine move as events_gap_fill_hourly;
    hour index = floor(epoch/3600), identical integer both engines).
    Exactness: with integer counts, the mean-centered ACF numerator and
    denominator are cleared of the 1/n fractions analytically --
    cov_units = n^2*P_k - n*S*(A_k+B_k) + (n-k)*S^2 and the n-scaled
    variance n*Q - S^2 are EXACT DECIMAL(38,0) integers (also emitted,
    pinning the whole computation bit-for-bit); the single double
    divide rounds to 6dp. Plan: one hour-grain count aggregate (the
    corpus-sized pass), a bounded spine (hours in range), the lag
    expansion as a 12-row broadcast against an equi-join on t+lag --
    never a window over the corpus -- and an O(lags) reduce. At 100 TB
    the series table is still only O(hours): tiny. Reference has no
    time-series surface."""
    ev = load_table(spark, sf_dir, "events")
    # floor(), not a truncating cast: the oracle buckets with
    # floor(epoch/3600), and truncation diverges from floor for
    # negative (pre-1970) epochs.
    hr = ev.groupBy(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(3600))
        .cast("bigint")
        .alias("t")
    ).agg(F.count("*").alias("c"))
    bounds = hr.agg(F.min("t").alias("mn"), F.max("t").alias("mx"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("t")
    )
    series = (
        spine.join(hr, "t", "left")
        .select("t", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    d38 = "decimal(38,0)"
    g = series.agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("c").cast(d38).alias("s"),
        F.sum(F.col("c") * F.col("c")).cast(d38).alias("q"),
    )
    lags = spark.range(1, 13).select(F.col("id").alias("lag"))
    a = series.select(F.col("t").alias("ta"), F.col("c").alias("ca"))
    b = series.select(F.col("t").alias("tb"), F.col("c").alias("cb"))
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("tb") == F.col("ta") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").cast(d38).alias("n_pairs"),
            F.sum(F.col("ca") * F.col("cb")).cast(d38).alias("p"),
            F.sum("ca").cast(d38).alias("sa"),
            F.sum("cb").cast(d38).alias("sb"),
        )
    )
    j = lagged.crossJoin(F.broadcast(g))
    cov = (
        F.col("n") * F.col("n") * F.col("p")
        - F.col("n") * F.col("s") * (F.col("sa") + F.col("sb"))
        + F.col("n_pairs") * F.col("s") * F.col("s")
    )
    den = F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    return j.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        cov.cast("bigint").alias("cov_units"),
        F.when(
            F.col("n") * F.col("q") - F.col("s") * F.col("s") > 0,
            F.round(cov.cast("double") / den.cast("double"), 6),
        ).alias("acf"),
    )


# Abramowitz & Stegun 26.2.17 polynomial for the standard normal tail --
# evaluated POINTWISE over an already-6dp-rounded |z| with identical
# literal constants on both engines (the registry's libm rule: exp is
# rounded-after on both sides).  Max abs error 7.5e-8, far inside the
# 6dp gate.
_PHI_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_PHI_K = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def _sql_norm_two_sided_p(z: str) -> str:
    b1, b2, b3, b4, b5 = _PHI_B
    return f"""ROUND(
      2.0 * {_INV_SQRT_2PI} * exp(-({z}) * ({z}) / 2.0)
          * (((({b5} * (1.0 / (1.0 + {_PHI_K} * abs({z})))
                 + {b4}) * (1.0 / (1.0 + {_PHI_K} * abs({z})))
                 + {b3}) * (1.0 / (1.0 + {_PHI_K} * abs({z})))
                 + {b2}) * (1.0 / (1.0 + {_PHI_K} * abs({z})))
                 + {b1}) * (1.0 / (1.0 + {_PHI_K} * abs({z})))
    , 6)"""


def _spark_norm_two_sided_p(z: F.Column) -> F.Column:
    b1, b2, b3, b4, b5 = _PHI_B
    k = 1.0 / (1.0 + _PHI_K * F.abs(z))
    poly = ((((F.lit(b5) * k + b4) * k + b3) * k + b2) * k + b1) * k
    return F.round(
        2.0 * _INV_SQRT_2PI * F.exp(-z * z / 2.0) * poly, 6
    )


_FDR_ALPHA_MILLI = 50  # alpha = 0.05, carried as integer permille*10


@query(
    "events_fdr_bh",
    oracle=f"""
WITH base AS (
  SELECT event_type,
         CAST(value AS DECIMAL(18,4)) AS v,
         CASE WHEN CAST(date_part('day', ts) AS INT) <= 15
              THEN 0 ELSE 1 END AS w
  FROM events
  UNION ALL
  SELECT 'planted_shift' AS event_type,
         CAST(value AS DECIMAL(18,4))
           + CASE WHEN CAST(date_part('day', ts) AS INT) <= 15
                  THEN CAST(0 AS DECIMAL(18,4))
                  ELSE CAST(50 AS DECIMAL(18,4)) END AS v,
         CASE WHEN CAST(date_part('day', ts) AS INT) <= 15
              THEN 0 ELSE 1 END AS w
  FROM events WHERE event_type = 'click'
),
s AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN w = 0 THEN v END) AS DOUBLE) AS sa,
         CAST(SUM(CASE WHEN w = 1 THEN v END) AS DOUBLE) AS sb,
         CAST(SUM(CASE WHEN w = 0 THEN v * v END) AS DOUBLE) AS qa,
         CAST(SUM(CASE WHEN w = 1 THEN v * v END) AS DOUBLE) AS qb
  FROM base GROUP BY event_type
),
z AS (
  SELECT event_type, n_a, n_b,
         ROUND((sa / n_a - sb / n_b)
               / sqrt((qa - sa * sa / n_a) / (n_a - 1) / n_a
                      + (qb - sb * sb / n_b) / (n_b - 1) / n_b), 6) AS z
  FROM s
  WHERE n_a >= 2 AND n_b >= 2
    AND (qa - sa * sa / n_a) + (qb - sb * sb / n_b) > 0
),
p AS (
  SELECT event_type, n_a, n_b, z,
         {_sql_norm_two_sided_p("z")} AS p_value
  FROM z
),
ranked AS (
  SELECT *,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value, event_type) AS BIGINT)
           AS p_rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_tests
  FROM p
),
cut AS (
  SELECT *,
         ROUND(CAST(p_rank * {_FDR_ALPHA_MILLI} AS DOUBLE)
               / (1000.0 * n_tests), 6) AS bh_cutoff
  FROM ranked
),
star AS (
  SELECT *,
         MAX(CASE WHEN p_value <= bh_cutoff THEN p_rank ELSE 0 END)
           OVER () AS i_star
  FROM cut
)
SELECT event_type, n_a, n_b, z, p_value, p_rank, n_tests, bh_cutoff,
       p_rank <= i_star AS rejected
FROM star
""",
)
def events_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control for a drift battery: Welch z-tests of
    early-month vs late-month mean value PER EVENT TYPE, then the
    Benjamini-Hochberg step-up (Benjamini & Hochberg 1995) at FDR
    alpha=0.05 -- the correction every metrics platform needs once it
    monitors K metrics at once (at K=6, alpha-per-test would fire a
    false alarm ~26% of the time somewhere). Reject p_(i) for all
    i <= i* = max{{i: p_(i) <= i*alpha/K}}.

    The gate is FALSIFIABLE by construction (the repo's planted-truth
    precedent, er_quality_eval / orders_duplicate_payments): a
    'planted_shift' pseudo-metric -- click values shifted +50 in the
    late window only, derived identically on both engines -- MUST be
    rejected while the undrifted real types give the step-up a null
    field to hold on. p-values come from the Abramowitz-Stegun 26.2.17
    normal-tail polynomial over the already-6dp-rounded z (identical
    literal constants both sides; the registry's round-after-libm rule
    for exp, same as the novelty curve's ln). Welch z itself is a
    closed form over EXACT DECIMAL(18,4) co-moment sums. Plan: one
    conditional-aggregate pass over events (the union's second leg
    re-scans only clicks), then all windows run over the K-row test
    table (bounded domain). Reference has no statistics surface."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = F.when(F.dayofmonth(F.col("ts")) <= 15, 0).otherwise(1)
    zero = F.lit(0).cast("decimal(18,4)")
    base = ev.select(
        "event_type", _dec(F.col("value")).alias("v"), w.alias("w")
    ).unionAll(
        ev.where(F.col("event_type") == "click").select(
            F.lit("planted_shift").alias("event_type"),
            (
                _dec(F.col("value"))
                + F.when(
                    F.dayofmonth(F.col("ts")) <= 15, zero
                ).otherwise(F.lit(50).cast("decimal(18,4)"))
            ).alias("v"),
            w.alias("w"),
        )
    )
    s = base.groupBy("event_type").agg(
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("w") == 0, F.col("v"))).cast("double").alias("sa"),
        F.sum(F.when(F.col("w") == 1, F.col("v"))).cast("double").alias("sb"),
        F.sum(F.when(F.col("w") == 0, F.col("v") * F.col("v")))
        .cast("double")
        .alias("qa"),
        F.sum(F.when(F.col("w") == 1, F.col("v") * F.col("v")))
        .cast("double")
        .alias("qb"),
    )
    va = (F.col("qa") - F.col("sa") * F.col("sa") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    z = s.where(
        (F.col("n_a") >= 2)
        & (F.col("n_b") >= 2)
        & (
            (F.col("qa") - F.col("sa") * F.col("sa") / F.col("n_a"))
            + (F.col("qb") - F.col("sb") * F.col("sb") / F.col("n_b"))
            > 0
        )
    ).select(
        "event_type",
        "n_a",
        "n_b",
        F.round(
            (F.col("sa") / F.col("n_a") - F.col("sb") / F.col("n_b"))
            / F.sqrt(va / F.col("n_a") + vb / F.col("n_b")),
            6,
        ).alias("z"),
    )
    p = z.select(
        "*", _spark_norm_two_sided_p(F.col("z")).alias("p_value")
    )
    ranked = p.select(
        "*",
        F.row_number()
        .over(W.orderBy("p_value", "event_type"))
        .cast("bigint")
        .alias("p_rank"),
        F.count("*").over(W.partitionBy()).cast("bigint").alias("n_tests"),
    )
    cut = ranked.select(
        "*",
        F.round(
            (F.col("p_rank") * _FDR_ALPHA_MILLI).cast("double")
            / (1000.0 * F.col("n_tests")),
            6,
        ).alias("bh_cutoff"),
    )
    star = cut.select(
        "*",
        F.max(
            F.when(
                F.col("p_value") <= F.col("bh_cutoff"), F.col("p_rank")
            ).otherwise(F.lit(0))
        )
        .over(W.partitionBy())
        .alias("i_star"),
    )
    return star.select(
        "event_type",
        "n_a",
        "n_b",
        "z",
        "p_value",
        "p_rank",
        "n_tests",
        "bh_cutoff",
        (F.col("p_rank") <= F.col("i_star")).alias("rejected"),
    )
