"""Incremental MinHash-LSH dedup index: keep the banded-signature
bucket table current over a STREAM of new documents.

The batch dedup family (operators/dedup.py) recomputes signatures over
the whole corpus per run -- fine for a gate corpus, wrong for a
production ingest where documents arrive continuously and each new
document must be checked against EVERYTHING already accepted without
rescanning it. The standard production split (every large-corpus
near-dup system -- the reference outsources its entire dedup story to
BigQuery, `etl_service/main.py:101` keeps an exact in-memory id set):
the LSH PARAMETERS (num_hashes, bands, shingle width -- fixed salted
hash functions, operators/dedup.minhash_coeffs) are FROZEN by
construction, while the BUCKET TABLE (doc_id, band, band_key) grows
online, one micro-batch at a time, on the shared snapshot-pointer sink
(streaming/snapshots.py):

  * apply_dedup_batch -- band the batch's documents (the exact
    banded_signatures code path the batch LSH pair generator uses, so
    streamed and one-shot tables are bit-identical), anti-join
    already-indexed doc_ids away (first write wins; documents are
    immutable), union with the current snapshot, commit it as
    snap_{batch_id}.
  * find_near_dup_candidates -- band a probe frame with the same
    parameters and equi-join it against the maintained table on
    (band, band_key): the candidates an ingest gate would route to
    Jaccard verification (jaccard_pairs_from_grams) before accepting.
    New documents never scan old documents -- only their own buckets.

Scale posture: per micro-batch the work is O(batch x num_hashes)
signature arithmetic (map-side; coefficients are a broadcast dim) plus
the snapshot rewrite. The whole-snapshot rewrite is the toy-sink
simplification (same note as merge_sink: a real table format appends a
partition and commits metadata); the BUCKETING shape -- membership
joins against bounded buckets, never corpus x corpus -- is the part
that carries to 100 TB, with the same mega-bucket cap discipline the
batch pair generator measures (SCALE_r04).

The parity test pins: streamed index == one-shot banded_signatures of
the full fixture (bit-for-bit), replay no-op, doc-level dedup across
overlapping batch ids, and restart continuity on one checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import banded_signatures, grams_stage
from .snapshots import commit, read_current, start

_INDEX_SCHEMA = "doc_id bigint, band int, band_key string"


def read_dedup_index(spark, sink_root: str) -> DataFrame:
    """The current committed bucket table (empty, well-typed, before the
    first commit)."""
    return read_current(spark, sink_root, _INDEX_SCHEMA)


def _band(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    grams = grams_stage(df, text_col, id_col, shingle_n)
    return banded_signatures(grams, id_col, num_hashes, bands).select(
        F.col("_id").cast("bigint").alias("doc_id"), "band", "band_key"
    )


def apply_dedup_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """One micro-batch of new documents into the bucket index, with
    doc-level dedup via anti-join (the replay guard only covers
    whole-batch redelivery -- a doc_id re-sent under a LATER batch id
    would duplicate every one of its band rows under a bag union)."""

    def write(new_dir: str) -> None:
        banded = _band(
            batch_df, text_col, id_col, num_hashes, bands, shingle_n
        )
        existing = read_dedup_index(spark, sink_root)
        # no broadcast hint: the build side is the full indexed id set,
        # which grows with the corpus -- AQE broadcasts while small,
        # shuffles after
        fresh = banded.join(
            existing.select("doc_id").distinct(), on="doc_id", how="left_anti"
        )
        merged = existing.unionByName(fresh)
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def find_near_dup_candidates(
    spark,
    sink_root: str,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(probe_id, index_id) candidate pairs: probe documents banded with
    the index's own parameters, equi-joined against the maintained
    bucket table. Self-hits (a probe already in the index) are dropped.
    Callers verify candidates with exact Jaccard before acting -- the
    same two-phase contract the batch LSH pair generator documents."""
    probe_bands = _band(probe, text_col, id_col, num_hashes, bands, shingle_n)
    idx = read_dedup_index(spark, sink_root)
    return (
        probe_bands.alias("p")
        .join(idx.alias("i"), ["band", "band_key"])
        .where(F.col("p.doc_id") != F.col("i.doc_id"))
        .select(
            F.col("p.doc_id").alias("probe_id"),
            F.col("i.doc_id").alias("index_id"),
        )
        .distinct()
    )


def start_dedup_index_maintenance(
    docs_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> StreamingQuery:
    """Maintain the LSH bucket table over a stream of new documents."""
    spark = docs_stream.sparkSession
    return start(
        docs_stream,
        checkpoint_path,
        lambda df, batch_id: apply_dedup_batch(
            spark, df, batch_id, sink_root, text_col, id_col,
            num_hashes, bands, shingle_n,
        ),
    )
