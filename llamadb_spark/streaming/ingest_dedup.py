"""Streaming ingest dedup: the daily-crawl-drop loop as a live
stream — each arriving batch of documents (one file = one
micro-batch) is probed against the EXISTING corpus index for
near-duplicate matches via operators/dedup.incremental_jaccard_
matches, and accepted non-duplicate docs are appended to the corpus
so the NEXT batch dedups against them too. This is the streaming
composition of #177 (one-sided batch→corpus probe, never
batch×batch) with the foreachBatch sink discipline of the IVM sink:
the corpus lives as a versioned table, one version per micro-batch,
committed exactly once through streaming/ivm.gated_drain.

Per-batch cost: the probe join itself is one-sided (batch shingles
against the corpus index, never corpus×corpus), but the index is not
persisted. Each batch re-shingles the WHOLE corpus to build it, and
commits the whole corpus again as its next snapshot, so a batch costs
O(corpus), not O(batch), and the bytes written grow with the batch
count (a 2-batch drain writes 1.49× its final bytes; every further
batch rewrites everything before it once more). A persisted corpus
index with append-only corpus segments would make it O(batch ·
avg-postings). The first batch, over an empty corpus, probes
nothing. State lives in the corpus table, not the stream (no
watermark state; restarts resume from the last committed corpus
version).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from llamadb_spark.session import empty_frame, stage
from llamadb_spark.sources import versioned
from llamadb_spark.streaming.ivm import gated_drain, read_log


def _matches_schema(batch_df: DataFrame) -> StructType:
    """incremental_jaccard_matches' output over ``batch_df``."""
    id_type = batch_df.schema["doc_id"].dataType
    return StructType(
        [
            StructField("doc_id", id_type),
            StructField("match_id", id_type),
            StructField("n_inter", LongType()),
            StructField("jaccard", DoubleType()),
        ]
    )


def ingest_dedup_stream(
    doc_stream: DataFrame,
    corpus_path: str,
    matches_path: str,
    threshold: float = 0.5,
    name: str = "ingest_dedup",
    timeout_s: int = 120,
) -> tuple[DataFrame, DataFrame]:
    """Drain a finite document stream (availableNow); per micro-batch:

    1. probe the current corpus version for near-dup matches,
    2. append the batch's NON-duplicate docs as the next corpus
       version (duplicates are dropped at the gate — the ingest
       filter), recording match rows as the next matches version.

    Returns (final corpus DataFrame, all match rows).
    """
    from llamadb_spark.operators.dedup import incremental_jaccard_matches

    spark = doc_stream.sparkSession

    def step(batch_df: DataFrame, base) -> list[DataFrame]:
        corpus = base(corpus_path)
        if corpus is None:
            # nothing to probe: batch×batch pairs are never matched
            return [empty_frame(spark, _matches_schema(batch_df)), batch_df]
        matches, _ = stage(
            incremental_jaccard_matches(batch_df, corpus, threshold=threshold)
        )
        accepted = batch_df.join(
            matches.select("doc_id"), "doc_id", "left_anti"
        )
        return [matches, corpus.unionByName(accepted)]

    gated_drain(
        doc_stream, [matches_path, corpus_path], step,
        name=name, timeout_s=timeout_s,
    )
    return (
        versioned.read_version(spark, corpus_path),
        read_log(spark, matches_path),
    )
