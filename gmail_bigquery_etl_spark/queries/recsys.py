"""Recommendation scoring: item-item collaborative filtering end-to-end.

Extends the association-rule core (orders_market_basket, queries/tpch.py)
from pair mining to the full recsys serving shape: co-occurrence counts
-> cosine item-item similarity matrix -> per-customer candidate scoring
(sum of similarities to the customer's history, already-bought items
anti-joined away) -> top-N per customer. The standard implicit-feedback
item-CF pipeline (Sarwar et al., WWW '01), expressed as three equi-joins
and two aggregations -- no per-user loops, no driver-side matrix.

Scale posture (100 TB): the similarity matrix is bounded by catalog
size^2 AND min-support pruning, never user-count; candidate generation is
history x similarity -- an equi-join on item whose fan-out is bounded by
history length x per-item neighbor count (both capped here, both cappable
in production); scoring is one groupBy (customer, candidate). Skewed
mega-customers would salt the scoring aggregate exactly like
skew_salted_user_counts (operators/skew.py).

The reference has no analytics at all (SURVEY.md §0); this family is part
of the north-star surface the engine adds over BigQuery-outsourced SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import query


@query(
    "orders_item_cf_recs",
    oracle="""
WITH baskets AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey % 500 AS item
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
capped AS (
  SELECT cust, item FROM (
    SELECT cust, item, COUNT(*) OVER (PARTITION BY cust) AS bsz FROM baskets
  ) WHERE bsz <= 128
),
item_n AS (SELECT item, COUNT(*) AS cnt FROM capped GROUP BY item),
pair_n AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
  FROM capped a JOIN capped b ON a.cust = b.cust AND a.item <> b.item
  GROUP BY 1, 2
),
sim AS (
  SELECT item_a, item_b,
         CAST(ROUND(CAST(n_both AS DOUBLE)
                    / (sqrt(CAST(ia.cnt AS DOUBLE)) * sqrt(CAST(ib.cnt AS DOUBLE))),
                    6) AS DECIMAL(18,6)) AS s6
  FROM pair_n
  JOIN item_n ia ON ia.item = pair_n.item_a
  JOIN item_n ib ON ib.item = pair_n.item_b
  WHERE n_both >= 3
),
scored AS (
  SELECT b.cust, s.item_b AS rec_item, SUM(s.s6) AS score6, COUNT(*) AS n_contrib
  FROM baskets b JOIN sim s ON s.item_a = b.item
  WHERE b.cust < 200
  GROUP BY 1, 2
),
novel AS (
  SELECT sc.cust, sc.rec_item, sc.score6, sc.n_contrib
  FROM scored sc
  LEFT JOIN baskets h ON h.cust = sc.cust AND h.item = sc.rec_item
  WHERE h.item IS NULL
),
ranked AS (
  SELECT cust, rec_item, score6, n_contrib,
         ROW_NUMBER() OVER (PARTITION BY cust
                            ORDER BY score6 DESC, rec_item) AS rank
  FROM novel
)
SELECT CAST(cust AS BIGINT) AS cust,
       CAST(rec_item AS BIGINT) AS rec_item,
       CAST(rank AS BIGINT) AS rank,
       ROUND(CAST(score6 AS DOUBLE), 6) AS score,
       CAST(n_contrib AS BIGINT) AS n_contrib
FROM ranked WHERE rank <= 3
""",
)
def orders_item_cf_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 novel item recommendations per customer (custkey < 200) by
    item-item cosine CF over purchase baskets (parts bucketed mod 500 so
    the catalog co-occurs at fixture scale).

    Plan: baskets (one distinct shuffle) -> per-customer BASKET CAP
    (standard CF practice: customers with > 128 distinct items are
    excluded from the co-occurrence STATISTICS -- a mega-basket
    contributes basket^2 pairs and is the one skew hotspot of the
    self-join; the capped basket set IS the vector space, so item
    counts and cosine stay consistent, and capped customers still
    RECEIVE recommendations through the uncapped history/scoring path.
    The cap VALUE is graded, not guessed: at 64 -- r8's first cut --
    the skew-basket slice (tools/bench_scale.py --skew-basket,
    SCALE_r9) measured 2.8% of REAL sf0.1 customers excluded (natural
    basket distribution p50 38 / p99 71 / max 96) and only 51% of the
    plain-corpus top-3 recs surviving; at 128 the cap sits clear of the
    natural maximum at every replica scale, catches the planted
    500-item mega-baskets, and bounds fan-out at 128^2 per customer)
    -> per-item counts (broadcast dim) -> co-occurrence pairs via
    self-equi-join ON CUSTOMER (fan-out bounded by 128^2 per customer,
    never corpus^2) -> min-support cut -> scoring equi-join of
    histories x similarity rows -> one (cust, item) aggregate ->
    anti-join history -> per-customer top-3 window over
    O(candidates-per-customer) rows, no global sort. Similarities
    quantize to DECIMAL(18,6) before the score SUM so the aggregate is
    addition-order-free; ranks carry a rec_item tiebreaker."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # baskets has four lineage consumers; a localCheckpoint pin was
    # A/B-measured and REJECTED (4.42 s pinned vs 3.71 s fused, sf0.1
    # warm best-of-4): the distinct's shuffle exchange is runtime-reused
    # across consumers by AQE, so the pin only added a materialization
    # barrier (the text_sparse_cosine_topk lesson).
    # Optimization r12 (guide §2.4 -- operations keyed the same way share
    # one exchange; VERDICT r11 #4): the dedup aggregate is clustered by
    # an explicit repartition on CUST, which hash-partitioning satisfies
    # for the (cust, item) distinct (cust is a subset of the grouping
    # key), and which the per-customer cap window AND the co-occurrence
    # self-join then reuse verbatim -- the plan drops the separate
    # (cust, item) exchange the bare distinct() planned before its
    # cust-keyed consumers (shuffle Exchanges 17 -> 14 at sf0.1 in
    # plans/r12/orders_item_cf_recs_{before,after}.txt).
    # Results are unchanged: distinct is partitioning-independent.
    baskets = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_partkey") % 500).alias("item"),
        )
        .repartition(F.col("cust"))
        .distinct()
    )
    from pyspark.sql import Window as W

    capped = (
        baskets.withColumn(
            "_bsz", F.count("*").over(W.partitionBy("cust"))
        )
        .filter(F.col("_bsz") <= 128)
        .drop("_bsz")
    )
    item_n = capped.groupBy("item").agg(F.count("*").alias("cnt"))
    pair_n = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    sim = (
        pair_n.join(
            F.broadcast(
                item_n.select(F.col("item").alias("item_a"), F.col("cnt").alias("_ca"))
            ),
            "item_a",
        )
        .join(
            F.broadcast(
                item_n.select(F.col("item").alias("item_b"), F.col("cnt").alias("_cb"))
            ),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.sqrt(F.col("_ca").cast("double")) * F.sqrt(F.col("_cb").cast("double"))),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s6"),
        )
    )
    hist = baskets.filter(F.col("cust") < 200)
    scored = (
        hist.join(sim, hist["item"] == sim["item_a"])
        .groupBy(F.col("cust"), F.col("item_b").alias("rec_item"))
        .agg(
            F.sum("s6").alias("score6"),
            F.count("*").cast("bigint").alias("n_contrib"),
        )
    )
    novel = scored.join(
        baskets.withColumnRenamed("item", "rec_item"),
        ["cust", "rec_item"],
        "left_anti",
    )
    rank = F.row_number().over(
        W.partitionBy("cust").orderBy(F.col("score6").desc(), F.col("rec_item"))
    )
    return (
        novel.withColumn("rank", rank.cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("cust").cast("bigint").alias("cust"),
            F.col("rec_item").cast("bigint").alias("rec_item"),
            "rank",
            F.round(F.col("score6").cast("double"), 6).alias("score"),
            "n_contrib",
        )
    )
