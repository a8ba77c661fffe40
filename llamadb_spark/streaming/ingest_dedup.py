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

Per-batch cost: O(batch · avg-postings) probe + corpus append —
independent of corpus-pair count, the property that makes continuous
ingest dedup viable at 100 TB. State lives in the corpus table, not
the stream (no watermark state; restarts resume from the last
committed corpus version).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from llamadb_spark.session import stage
from llamadb_spark.sources import versioned
from llamadb_spark.streaming.ivm import gated_drain, read_log


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

    def step(batch_df: DataFrame, base) -> list[DataFrame]:
        corpus = base(corpus_path)
        if corpus is None:
            corpus = batch_df.limit(0)
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
    spark = doc_stream.sparkSession
    return (
        versioned.read_version(spark, corpus_path),
        read_log(spark, matches_path),
    )
