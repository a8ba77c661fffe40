"""Graph centrality over near-dup / similarity edge lists.

The connected-components operator
(operators/dedup.connected_components) answers "which docs form a
cluster"; PageRank answers "which doc is the cluster's CENTER" — the
canonical representative a curation pipeline keeps when clusters are
large and min-id is a poor pick (Page et al., 1999; the fixed-point
iteration maps 1:1 onto join+groupBy rounds, the original MapReduce
PageRank shape).

Scale: per iteration ONE shuffle join (ranks onto the
degree-annotated edge list, both keyed on the source node) and ONE
map-side-combined aggregation by destination. The edge list is
degree-annotated once, outside the loop. Ranks localCheckpoint per
round so plans don't nest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from llamadb_spark.session import stage


def pagerank(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an UNDIRECTED edge list, fixed iteration count.

    Symmetric edges mean every node has out-degree ≥ 1, so there are
    no dangling nodes and the per-node form
    ``r' = (1-d) + d · Σ r(u)/deg(u)`` is exact. Ranks start at 1.0
    (Σ rank = n convention). A FIXED iteration count (vs a
    convergence test) keeps the operator oracle-expressible — the
    DuckDB twin unrolls the same three rounds — and is also the
    production norm (convergence tests cost a driver action per
    round; rank ORDER stabilizes long before values do).

    Output: (node, rank) for every node appearing in ``pairs``,
    rank rounded 6dp.
    """
    p, _ = stage(pairs.select(col(a_col).alias("u"), col(b_col).alias("v")))
    edges = p.unionAll(p.select(col("v").alias("u"), col("u").alias("v")))
    deg = edges.groupBy("u").agg(F.count(lit(1)).alias("d"))
    # Degree-annotate once: d never changes across iterations.
    edges_d, _ = stage(edges.join(deg, "u"))

    ranks = deg.select("u", lit(1.0).alias("rank"))
    for _ in range(iters):
        ranks, _ = stage(
            edges_d.join(ranks, "u")
            .groupBy("v")
            .agg(F.sum(col("rank") / col("d")).alias("_in"))
            .select(
                col("v").alias("u"),
                (lit(1.0 - damping) + lit(damping) * col("_in")).alias("rank"),
            )
        )
    return ranks.select(col("u").alias("node"), F.round("rank", 6).alias("rank"))
