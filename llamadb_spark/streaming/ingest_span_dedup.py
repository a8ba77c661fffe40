"""Streaming SUBSTRING-SPAN ingest dedup: the span-granular member of
the ingest-dedup family (#258 lexical jaccard, #266 embedding cosine,
this: #271 shared-substring mass) — each arriving micro-batch of
documents is probed against the EXISTING corpus for long shared
character runs (operators/spans.py seed-and-chain semantics, Lee et
al. 2022), documents whose duplicated-char fraction exceeds the gate
are dropped, and accepted documents append as the next corpus version
WITH their position-gram hashes precomputed.

The 100 TB design point mirrors ingest_embed_dedup: the corpus text is
NEVER re-hashed at probe time. Each accepted doc persists its
``gram_hashes`` array (xxhash64 of every position's L-gram, computed
once at ingest), so a micro-batch probe is

    batch gram hashing + (batch grams ⋈ stored corpus gram postings)
    + diagonal-island chaining on the matches

— one-sided, postings-bounded, independent of corpus pair count, with
the standard hot-gram occupancy cap. 64-bit gram hashes make the probe
near-exact: a hash collision can fabricate one false seed (a spurious
length-L span); expected false spans ≈ positions²/2⁶⁴ — negligible
below ~10⁹ corpus positions and documented here rather than hidden.

Exactly-once: streaming/ivm.gated_drain, matches then corpus; the
span parameters are stamped with the corpus, so a mismatched
``min_len`` fails loudly instead of mis-chaining stored postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window

from llamadb_spark.session import empty_frame, stage
from llamadb_spark.sources import versioned
from llamadb_spark.streaming.ivm import gated_drain, read_log, stamp_params


def _with_gram_hashes(docs: DataFrame, min_len: int) -> DataFrame:
    """Append ``gram_hashes``: xxhash64 of every 1-based position's
    length-L gram, as one array column (empty for short docs)."""
    n = F.length(col("text")) - lit(min_len - 1)
    return docs.withColumn(
        "gram_hashes",
        F.when(
            n >= 1,
            F.transform(
                F.sequence(lit(1), n),
                lambda p: F.xxhash64(F.substring(col("text"), p, min_len)),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )


def _postings(docs: DataFrame, id_alias: str, pos_alias: str) -> DataFrame:
    return docs.select(
        col("doc_id").alias(id_alias),
        F.posexplode("gram_hashes").alias(pos_alias + "0", "h"),
    ).select(
        id_alias, (col(pos_alias + "0") + 1).alias(pos_alias), "h"
    )


def _matches_schema(batch_df: DataFrame) -> StructType:
    """The span probe's match rows over ``batch_df``."""
    id_type = batch_df.schema["doc_id"].dataType
    return StructType(
        [
            StructField("doc_id", id_type),
            StructField("match_id", id_type),
            StructField("dup_chars", LongType()),
            StructField("doc_len", LongType()),
            StructField("dup_permille", LongType()),
        ]
    )


def ingest_span_dedup_stream(
    doc_stream: DataFrame,
    corpus_path: str,
    matches_path: str,
    min_len: int = 40,
    dup_permille_gate: int = 500,
    max_gram_occ: int | None = 10_000,
    name: str = "ingest_span_dedup",
    timeout_s: int = 120,
) -> tuple[DataFrame, DataFrame]:
    """Drain a finite document stream (availableNow); per batch: probe
    the stored gram postings for shared runs ≥ min_len, compute each
    batch doc's duplicated-char mass (merged interval union over ALL
    its corpus matches), gate docs at ≥ ``dup_permille_gate`` per-mille
    duplication, append survivors (with their gram hashes) as the next
    corpus version. Returns (final corpus, all match rows
    (doc_id, match_id, dup_chars, doc_len, dup_permille) — one row per
    gated doc per matching corpus doc)."""
    from llamadb_spark.functions.blocking import drop_hot_keys

    stamp_params(
        corpus_path, "span", {"min_len": min_len, "gram_hash": "xxhash64"}
    )
    spark = doc_stream.sparkSession

    def step(batch_df: DataFrame, base) -> list[DataFrame]:
        batch, _ = stage(
            _with_gram_hashes(batch_df.select("doc_id", "text"), min_len)
        )
        corpus = base(corpus_path)
        if corpus is None:
            # nothing to probe: batch×batch pairs are never matched
            return [empty_frame(spark, _matches_schema(batch_df)), batch]
        # no entity bound: a doc posts a gram hash once per position,
        # so a repeated run puts one hash in many rows of one doc
        c_post = drop_hot_keys(
            _postings(corpus, "match_id", "c_pos"), ["h"], max_gram_occ
        )
        b_post = _postings(batch, "doc_id", "b_pos")
        m = b_post.join(c_post, "h").select(
            "doc_id", "match_id", "b_pos", "c_pos",
            (col("b_pos") - col("c_pos")).alias("diag"),
        )
        isl = Window.partitionBy("doc_id", "match_id", "diag").orderBy(
            "b_pos"
        )
        spans = (
            m.withColumn("grp", col("b_pos") - F.row_number().over(isl))
            .groupBy("doc_id", "match_id", "diag", "grp")
            .agg(
                F.min("b_pos").alias("s"),
                (F.min("b_pos") + F.count(lit(1)) + lit(min_len - 1)).alias(
                    "e"
                ),
            )
        )
        # duplicated mass per batch doc: merge [s, e) intervals ACROSS
        # all of the doc's corpus matches (union semantics — two
        # corpus docs covering the same bytes count once)
        by_start = Window.partitionBy("doc_id").orderBy("s", "e")
        run_max = (
            Window.partitionBy("doc_id")
            .orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        dup_mass = (
            spans.select("doc_id", "s", "e")
            .withColumn("prev_max_e", F.max("e").over(run_max))
            .withColumn(
                "new_isl",
                F.when(
                    col("prev_max_e").isNull()
                    | (col("s") > col("prev_max_e")),
                    1,
                ).otherwise(0),
            )
            .withColumn("isl", F.sum("new_isl").over(by_start))
            .groupBy("doc_id", "isl")
            .agg(F.min("s").alias("s"), F.max("e").alias("e"))
            .groupBy("doc_id")
            .agg(F.sum(col("e") - col("s")).alias("dup_chars"))
        )
        gated = (
            dup_mass.join(
                batch.select(
                    "doc_id", F.length("text").cast("long").alias("doc_len")
                ),
                "doc_id",
            )
            .withColumn(
                # true integer division — floor-of-double drifts by 1
                # past ~2^43 chars
                "dup_permille",
                F.expr("(1000 * dup_chars) div doc_len"),
            )
            .filter(col("dup_permille") >= dup_permille_gate)
        )
        matches, _ = stage(
            gated.join(
                spans.select("doc_id", "match_id").distinct(), "doc_id"
            ).select(
                "doc_id", "match_id", "dup_chars", "doc_len", "dup_permille"
            )
        )
        dup_ids = matches.select("doc_id").distinct()
        accepted = batch.join(dup_ids, "doc_id", "left_anti")
        return [matches, corpus.unionByName(accepted)]

    gated_drain(
        doc_stream, [matches_path, corpus_path], step,
        name=name, timeout_s=timeout_s,
    )
    return (
        versioned.read_version(spark, corpus_path),
        read_log(spark, matches_path),
    )
