"""Incremental CCNet paragraph-dedup index: keep the corpus-wide
paragraph FIRST-OCCURRENCE table current over a STREAM of documents,
and rewrite incoming documents against it.

The batch rewrite (queries/webcorpus.curation_line_dedup) recomputes
first occurrences over the whole corpus per run; a production ingest
needs each arriving document checked against every paragraph already
accepted without rescanning the corpus — the same batch/online split as
the LSH dedup index (streaming/dedup_index.py), applied to the CCNet
pass (Wenzek et al. 2020 sec. 3.1). The paragraph GRID (token width,
tokenization) is frozen in operators/paragraphs.py and shared with the
batch query, so streamed and one-shot paragraph tables are bit-identical
by construction.

The maintained state is (para, doc_id, pos): for every distinct
paragraph string, the MINIMUM (doc_id, pos) seen so far. The per-batch
merge is a MIN re-aggregate over (existing snapshot UNION batch minima)
— a proper mergeable-sketch update, so the committed index is
arrival-order INDEPENDENT: after any batch split, in any order, it
equals the batch-computed first-occurrence table of all documents seen
(the parity test pins this bit-for-bit). Each batch commits through the
shared snapshot-pointer sink (streaming/snapshots.py).

Scale posture: per micro-batch the work is O(batch tokens) chunking
(map-side) + one MIN aggregate keyed by paragraph string —
partial-aggregatable, so boilerplate mega-keys combine map-side. The
whole-snapshot rewrite is the toy-sink simplification (same note as
merge_sink); the KEYED-MIN shape is what carries to 100 TB, where the
state table is a bucketed/partitioned table and the merge a MERGE INTO
keyed on the paragraph hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..operators.paragraphs import explode_paras, para_arrays
from .snapshots import commit, read_current, start

_INDEX_SCHEMA = "para string, doc_id bigint, pos int"


def read_para_index(spark, sink_root: str) -> DataFrame:
    """The current committed first-occurrence table (empty, well-typed,
    before the first commit)."""
    return read_current(spark, sink_root, _INDEX_SCHEMA)


def _batch_minima(
    batch_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    p = explode_paras(
        para_arrays(batch_df, text_col=text_col, id_col=id_col),
        id_col=id_col,
    )
    return p.groupBy("para").agg(
        F.min(F.struct(F.col(id_col).alias("doc_id"), "pos")).alias("k")
    )


def apply_para_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    sink_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of documents into the first-occurrence index:
    batch minima unioned with the snapshot, re-min-aggregated per
    paragraph. Re-sent documents can only ever LOWER a paragraph's
    first occurrence to the same or an earlier (doc_id, pos) — the
    merge is idempotent at the value level, and the replay guard
    short-circuits whole-batch redelivery."""

    def write(new_dir: str) -> None:
        fresh = _batch_minima(batch_df, text_col, id_col).select(
            "para",
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.pos").alias("pos"),
        )
        merged = (
            read_para_index(spark, sink_root)
            .unionByName(fresh)
            .groupBy("para")
            .agg(F.min(F.struct("doc_id", "pos")).alias("k"))
            .select("para", F.col("k.doc_id").alias("doc_id"),
                    F.col("k.pos").alias("pos"))
        )
        merged.write.mode("overwrite").parquet(new_dir)

    commit(sink_root, batch_id, write)


def rewrite_against_index(
    spark,
    sink_root: str,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rewrite probe documents against the maintained index: a
    paragraph survives iff (a) the index's first occurrence IS this
    (doc, pos) — so replaying an indexed document reproduces the batch
    query's rewrite — or (b) the paragraph is absent from the index
    entirely and this is its first position within the probe document
    (the ingest-gate case: new material passes, anything already
    accepted anywhere is dropped). Output: (doc_id, n_paras, n_kept,
    clean) with clean the surviving paragraphs joined in order."""
    p = explode_paras(
        para_arrays(probe, text_col=text_col, id_col=id_col), id_col=id_col
    )
    idx = read_para_index(spark, sink_root).select(
        "para",
        F.col("doc_id").alias("idx_doc"),
        F.col("pos").alias("idx_pos"),
    )
    own_first = F.row_number().over(
        Window.partitionBy(id_col, "para").orderBy("pos")
    )
    flagged = (
        p.join(idx, "para", "left")
        .withColumn("own_rn", own_first)
        .withColumn(
            "keep",
            (
                (F.col("idx_doc") == F.col(id_col))
                & (F.col("idx_pos") == F.col("pos"))
            )
            | (F.col("idx_doc").isNull() & (F.col("own_rn") == 1)),
        )
    )
    kept = flagged.where("keep")
    perdoc = p.groupBy(id_col).agg(F.count("*").alias("n_paras"))
    reasm = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda x: x["para"],
            ),
            " ",
        ).alias("clean"),
    )
    return perdoc.join(reasm, id_col, "left").select(
        id_col,
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("clean"), F.lit("")).alias("clean"),
    )


def start_para_index_maintenance(
    docs_stream: DataFrame,
    sink_root: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Maintain the paragraph first-occurrence table over a document
    stream."""
    spark = docs_stream.sparkSession
    return start(
        docs_stream,
        checkpoint_path,
        lambda df, batch_id: apply_para_batch(
            spark, df, batch_id, sink_root, text_col, id_col
        ),
    )
