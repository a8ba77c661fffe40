"""Streaming LINE ingest dedup: the line-granular member of the
ingest-dedup family (#258 lexical jaccard, #266 embedding cosine,
#271 substring spans — this one is d25's C4 keep-first semantics,
Raffel et al. 2020 §2.2, at ingest time). Per micro-batch of arriving
documents: every line of every doc is checked against the corpus's
persisted FIRST-OCCURRENCE line index; lines already seen (in any
earlier batch, or earlier within this batch by (doc_id, line_no))
are stripped, documents are reassembled from their surviving lines
and appended as the next corpus version, and the batch's new
first-occurrence line hashes append to the index — so the NEXT batch
dedups against them too.

The 100 TB design point mirrors the family: the corpus text is never
re-read at probe time — the index stores only ``xxhash64(line)``
(8 bytes per distinct line), so a micro-batch probe is one
hash-keyed anti-join against the index plus the batch's own
intra-batch keep-first, which is the d25 r09 shape — a map-side-
combinable ``groupBy(hash).min(struct(doc_id, line_no))`` + join-back
(AQE-skew-splittable), never a window partitioned by line content. A
64-bit hash collision falsely strips one innocent line; expected
collisions ≈ distinct-lines²/2⁶⁴ — negligible below ~10⁹ distinct
lines and documented here rather than hidden.

Exactly-once: streaming/ivm.gated_drain, corpus then index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.types import LongType, StructField, StructType

from llamadb_spark.session import empty_frame, stage
from llamadb_spark.sources import versioned
from llamadb_spark.streaming.ivm import gated_drain

_INDEX_SCHEMA = StructType([StructField("line_hash", LongType())])


def ingest_line_dedup_stream(
    doc_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    name: str = "ingest_line_dedup",
    timeout_s: int = 120,
) -> tuple[DataFrame, DataFrame]:
    """Drain a finite document stream (availableNow); per micro-batch:

    1. explode docs into (doc_id, line_no, line) on newlines,
    2. intra-batch keep-first: the lexicographically-least
       (doc_id, line_no) per distinct line hash survives (d25's
       partial-agg shape),
    3. cross-batch: any line whose hash is already in the persisted
       index is stripped (keep-first is corpus-wide),
    4. append cleaned docs (doc_id, n_lines, n_removed, clean_text)
       as the next corpus version; append the batch's new
       first-occurrence hashes as the next index version.

    Returns (final cleaned-corpus DataFrame, final index DataFrame).
    Empty lines dedup like any other line (strict keep-first).
    """
    spark = doc_stream.sparkSession

    def step(batch_df: DataFrame, base) -> list[DataFrame]:
        index = base(index_path)
        if index is None:
            index = empty_frame(spark, _INDEX_SCHEMA)
        lines = batch_df.select(
            "doc_id",
            F.posexplode(F.split(col("text"), "\n", -1)).alias(
                "line_no", "line"
            ),
        ).withColumn("line_hash", F.xxhash64("line"))
        # intra-batch keep-first (the d25 shape: combinable partial
        # agg + skew-splittable join-back, no content window)
        first = (
            lines.groupBy("line_hash")
            .agg(F.min(F.struct("doc_id", "line_no")).alias("k"))
            .select(
                "line_hash",
                col("k.doc_id").alias("keep_doc"),
                col("k.line_no").alias("keep_line_no"),
            )
        )
        # cross-batch gate: a hash already indexed strips ALL of the
        # batch's occurrences, including its intra-batch first
        new_first = first.join(index, "line_hash", "left_anti")
        marked = lines.join(
            new_first, "line_hash", "left"
        ).withColumn(
            "is_first",
            (col("doc_id") == col("keep_doc"))
            & (col("line_no") == col("keep_line_no")),
        )
        cleaned, _ = stage(
            marked.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(
                    (~F.coalesce(col("is_first"), F.lit(False))).cast(
                        "long"
                    )
                ).alias("n_removed"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.coalesce(
                                        col("is_first"), F.lit(False)
                                    ),
                                    F.struct("line_no", "line"),
                                )
                            )
                        ),
                        lambda x: x["line"],
                    ),
                    "\n",
                ).alias("clean_text"),
            )
        )
        prev = base(corpus_path)
        corpus = cleaned if prev is None else prev.unionByName(cleaned)
        return [corpus, index.unionByName(new_first.select("line_hash"))]

    gated_drain(
        doc_stream, [corpus_path, index_path], step,
        name=name, timeout_s=timeout_s,
    )
    corpus = versioned.read_version(spark, corpus_path)
    index = versioned.read_version(spark, index_path)
    return corpus, index
