"""Streaming EMBEDDING ingest dedup: the vector-space twin of
streaming/ingest_dedup.py (#258) — each arriving micro-batch of
embeddings is probed against the EXISTING corpus for semantic
near-duplicates (cosine ≥ threshold), duplicates are gated out, and
accepted vectors append as the next corpus version so later batches
dedup against them too.

The 100 TB design point: the corpus is NEVER re-hashed. Hyperplane
bucket signatures (deterministic seeded planes — the same
operators/similarity._hyperplane_bucket_udf the batch LSH path uses)
are computed once per vector AT INGEST and PERSISTED with the corpus
version, so a micro-batch's probe cost is

    batch-hashing + (batch buckets ⋈ stored corpus buckets) + exact
    cosine verify on the candidates

— one-sided, bucket-bounded, independent of corpus pair count, with
the usual occupancy cap on hot corpus buckets.

Exactly-once: streaming/ivm.gated_drain, matches then corpus; the LSH
parameters (and plane-seed family) are stamped with the corpus, so
probing persisted signatures under other parameters fails loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.types import DoubleType, StructField, StructType

from llamadb_spark.session import empty_frame, stage
from llamadb_spark.sources import versioned
from llamadb_spark.streaming.ivm import gated_drain, read_log, stamp_params


def _banded(vecs: DataFrame, num_planes: int, num_tables: int) -> DataFrame:
    """(vec_id, tbl, bucket) rows from the stored/computed signature
    array."""
    return vecs.select(
        "vec_id", F.posexplode("buckets").alias("tbl", "bucket")
    )


def _with_buckets(
    batch: DataFrame, num_planes: int, num_tables: int
) -> DataFrame:
    from llamadb_spark.functions.vector import as_double
    from llamadb_spark.operators.similarity import _hyperplane_bucket_udf

    udf = _hyperplane_bucket_udf(num_planes, num_tables)
    return batch.withColumn(
        "buckets", udf(as_double(col("embedding")))
    )


def _matches_schema(batch_df: DataFrame) -> StructType:
    """The cosine probe's match rows over ``batch_df``."""
    id_type = batch_df.schema["vec_id"].dataType
    return StructType(
        [
            StructField("vec_id", id_type),
            StructField("match_id", id_type),
            StructField("cos", DoubleType()),
        ]
    )


def ingest_embed_dedup_stream(
    vec_stream: DataFrame,
    corpus_path: str,
    matches_path: str,
    threshold: float = 0.9,
    num_planes: int = 6,
    num_tables: int = 40,
    max_bucket_size: int | None = 10_000,
    name: str = "ingest_embed_dedup",
    timeout_s: int = 120,
) -> tuple[DataFrame, DataFrame]:
    """Drain a finite embedding stream (availableNow); per batch:
    probe the stored-signature corpus index for cosine near-dups,
    drop matched vectors at the gate, append survivors (with their
    signatures) as the next corpus version. Returns (final corpus,
    all match rows (vec_id, match_id, cos))."""
    from llamadb_spark.functions.blocking import drop_hot_keys
    from llamadb_spark.functions.vector import as_double, cosine
    from llamadb_spark.operators.similarity import LSH_PLANE_SEED

    stamp_params(
        corpus_path,
        "lsh",
        {
            "num_planes": num_planes,
            "num_tables": num_tables,
            "plane_seed": LSH_PLANE_SEED,
        },
    )
    spark = vec_stream.sparkSession

    def step(batch_df: DataFrame, base) -> list[DataFrame]:
        batch, _ = stage(_with_buckets(batch_df, num_planes, num_tables))
        corpus = base(corpus_path)
        if corpus is None:
            # nothing to probe: batch×batch pairs are never matched
            return [empty_frame(spark, _matches_schema(batch_df)), batch]
        # no entity bound: the corpus is read from its committed
        # version, and no job of this batch counts its vectors
        c_banded = drop_hot_keys(
            _banded(corpus, num_planes, num_tables),
            ["tbl", "bucket"],
            max_bucket_size,
        )
        b_banded = _banded(batch, num_planes, num_tables)
        cand = (
            b_banded.join(
                c_banded.select(
                    col("vec_id").alias("match_id"), "tbl", "bucket"
                ),
                ["tbl", "bucket"],
            )
            .select("vec_id", "match_id")
            .distinct()
        )
        matches, _ = stage(
            cand.join(
                batch.select(
                    "vec_id", as_double(col("embedding")).alias("b_v")
                ),
                "vec_id",
            )
            .join(
                corpus.select(
                    col("vec_id").alias("match_id"),
                    as_double(col("embedding")).alias("c_v"),
                ),
                "match_id",
            )
            .withColumn("cos", F.round(cosine(col("b_v"), col("c_v")), 6))
            .filter(col("cos") >= threshold)
            .select("vec_id", "match_id", "cos")
        )
        dup_ids = matches.select("vec_id").distinct()
        accepted = batch.join(dup_ids, "vec_id", "left_anti")
        return [matches, corpus.unionByName(accepted)]

    gated_drain(
        vec_stream, [matches_path, corpus_path], step,
        name=name, timeout_s=timeout_s,
    )
    return (
        versioned.read_version(spark, corpus_path),
        read_log(spark, matches_path),
    )
