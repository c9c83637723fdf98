"""Complex-event-processing queries: MATCH_RECOGNIZE-lite over the
events fixture (operators/sequence.py).

Flink SQL / Oracle expose PATTERN (A B* C) over ordered event streams;
Spark has no such clause. These queries gate the engine's restatement --
per-user label strings + regex -- against a relational oracle that
rebuilds the identical strings with ordered string_agg and RE2."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.sequence import (
    key_sequences,
    label_expr,
    match_counts,
    transition_counts,
)
from .registry import query

LABELS = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}

_CASE = (
    "CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e' "
    "WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's' "
    "WHEN 'view' THEN 'v' ELSE '_' END"
)

_SEQS = f"""
lab AS (SELECT user_id, ts, event_id, {_CASE} AS c FROM events),
seqs AS (SELECT user_id, string_agg(c, '' ORDER BY ts, event_id) AS seq
         FROM lab GROUP BY user_id)
"""


@query(
    "events_sequence_funnel_regex",
    oracle=f"""
WITH {_SEQS}
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(length(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches
FROM seqs
WHERE len(regexp_extract_all(seq, 'vc*p')) > 0
""",
)
def events_sequence_funnel_regex(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CEP funnel as a regex: per user, count non-overlapping runs of
    view -> (clicks only) -> purchase, i.e. PATTERN (V C* P) in
    MATCH_RECOGNIZE terms. One shuffle (the per-user groupBy); per-user
    state is one char per event; matching is regexp_count in codegen.
    Contrast with the join-based funnel (events_funnel_conversion):
    this form handles arbitrary repetition and exclusion patterns the
    step-join cannot express without one join per step."""
    ev = load_table(spark, sf_dir, "events")
    seqs = key_sequences(
        ev, "user_id", "ts", "event_id", label_expr("event_type", LABELS)
    )
    return (
        match_counts(seqs, "vc*p")
        .where(F.col("n_matches") > 0)
        .select(
            F.col("key").cast("bigint").alias("user_id"),
            "seq_len",
            "n_matches",
        )
    )


@query(
    "events_markov_transitions",
    oracle=f"""
WITH lab AS (SELECT user_id, ts, event_id, {_CASE} AS c FROM events),
p AS (SELECT user_id,
             lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
             c AS dst
      FROM lab)
SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n,
       COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY src) AS DOUBLE) AS p
FROM p WHERE src IS NOT NULL
GROUP BY src, dst
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: adjacent label pairs from zipping each sequence with its
    own tail (the HOF-safe adjacency idiom -- no self-join, no window
    over the raw events), counted globally and row-normalized per
    source state. The oracle rebuilds adjacency with lag() -- a
    different algorithm, same matrix, which is the point of the gate."""
    ev = load_table(spark, sf_dir, "events")
    seqs = key_sequences(
        ev, "user_id", "ts", "event_id", label_expr("event_type", LABELS)
    )
    return transition_counts(seqs)


def _funnel_oracle() -> str:
    from .registry import ALL_ORACLES

    return ALL_ORACLES["events_sequence_funnel_regex"]


@query("stream_cep_funnel_regex", oracle=_funnel_oracle())
def stream_cep_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAM-MAINTAINED CEP state, gated against the batch spec:
    events arrive as three micro-batches split BY KEY HASH (deliberately
    not by time -- the state stores (ts, tiebreak, label) triples and
    sorts at view time, so batch partitioning cannot perturb the match),
    through the real snapshot-pointer sink (streaming/cep.
    apply_cep_batch). The final match view must equal
    events_sequence_funnel_regex -- same oracle, verbatim."""
    from ..fixtures import fresh_dir
    from ..streaming.cep import apply_cep_batch, cep_match_view

    ev = load_table(spark, sf_dir, "events")
    root = fresh_dir("cep", sf_dir)
    lab = label_expr("event_type", LABELS)
    for i in range(3):
        apply_cep_batch(
            spark,
            ev.where(F.col("event_id") % 3 == i),
            i,
            root,
            "user_id",
            "ts",
            "event_id",
            lab,
        )
    return (
        cep_match_view(spark, root, "vc*p")
        .where(F.col("n_matches") > 0)
        .select(
            F.col("key").cast("bigint").alias("user_id"),
            "seq_len",
            "n_matches",
        )
    )
