"""Deduplication pipeline queries (SURVEY §2 d/g-rows): exact,
near-dup (Jaccard / MinHash-LSH / SimHash / embedding), clusters and
graph diagnostics, span- and line-granular dedup, calibration and
provenance. Split out of queries/pipeline.py in round 9 (VERDICT r08
#8) — pure refactor; the registry still lives in queries/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llamadb_spark.operators import dedup, multimodal, similarity, textops
from llamadb_spark.functions import text as text_fns
from llamadb_spark.functions.text import STOPWORDS
from llamadb_spark.session import read_table, stage

from llamadb_spark.queries.pipeline_common import (
    _docs,
    _emb,
    _rebalance,
    JACCARD_THRESHOLD,
    STOP_SHINGLE_DF,
    ORACLE_D02,
)
from llamadb_spark.queries.pipeline_text import (
    T28_BIAS_MICRO,
    T28_WEIGHTS_MICRO,
    _T28_VALUES,
)


# --- dedup ---------------------------------------------------------------

def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))
ORACLE_D01 = r"""
SELECT sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_sha,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""
def d02_jaccard_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    )
def d06_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → clusters: connected components over the
    jaccard pair graph, every doc labeled with its component's min
    doc_id. The pair graph is pair-sized, so the components finish on
    the driver; star rounds run only above
    operators/dedup._LOCAL_MAX_EDGES. Oracle: same pair SQL + a
    recursive-CTE reachability closure in DuckDB."""
    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    return dedup.connected_components(pairs)
ORACLE_D06 = rf"""
WITH RECURSIVE pairs AS (
  {ORACLE_D02}
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS node, least(u, min(v)) AS cluster_id
FROM reach GROUP BY u
"""
def d07_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: pairs → clusters → filtered corpus. The
    operation a production pipeline actually runs — keep each
    cluster's min-doc_id representative, drop the rest, and report
    the surviving corpus per source.

    Scale: the drop-list (non-canonical cluster members) is
    proportional to duplicates found — usually small, but web-scale
    corpora can dedup away 30-80% of documents, so its size is
    data-dependent, NOT bounded. No broadcast hint: AQE broadcasts
    the anti-join side at runtime when it is genuinely small and
    falls back to a shuffle join when it is not (a forced hint here
    OOMs executors on a duplicate-heavy corpus). The per-source
    aggregate does map-side partial agg on top.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_ngram_pairs(
        docs, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    losers = cc.filter(col("node") != col("cluster_id")).select(
        col("node").alias("doc_id")
    )
    survivors = docs.join(losers, "doc_id", "left_anti")
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
ORACLE_D07 = f"""
WITH cc AS ({ORACLE_D06})
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
GROUP BY source
"""
def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection with a driver-attestable banded
    contract: the output is the EXACT d02 pair set (ids + exact
    Jaccard, DuckDB-recomputable) with a ``found_by_lsh`` boolean per
    pair — LSH recall over ground-truth near-dups becomes the
    hash-matched value. The oracle recomputes the exact pairs and
    claims TRUE; an LSH miss flips the boolean and fails the hash.
    The corpus's genuine near-dups all sit at J ≥ 0.9 where the
    8-band/r=4 miss probability is ≤ (1-0.9^4)^8 ≈ 2e-4 per pair,
    and signatures are deterministic (JVM xxhash64), so the booleans
    are stable at a given SF. (The raw candidate list itself stays
    available via operators/dedup.minhash_lsh_pairs.)"""
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir)
    # ONE staged shingle index feeds both the exact twin and the
    # MinHash path (the production shape: stage the inverted index,
    # run every sketch off it) — one barrier, one shingle pass
    idx = dedup.hashed_shingle_index(docs)
    exact = dedup.jaccard_ngram_pairs(
        docs,
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
        index=idx,
    ).select("a_id", "b_id", "jaccard")
    lsh = (
        dedup.minhash_lsh_pairs(docs, threshold=JACCARD_THRESHOLD, index=idx)
        .select("a_id", "b_id")
        .withColumn("_f", F.lit(True))
    )
    return exact.join(lsh, ["a_id", "b_id"], "left").select(
        "a_id",
        "b_id",
        col("jaccard").alias("exact_j"),
        F.coalesce("_f", F.lit(False)).alias("found_by_lsh"),
    )
ORACLE_D03 = rf"""
WITH pairs AS ({ORACLE_D02})
SELECT a_id, b_id, jaccard AS exact_j, TRUE AS found_by_lsh
FROM pairs
"""
#: Hamming band d04 attests on genuine near-dup pairs: measured max
#: is 12 bits at sf0.001-0.01 over 64-bit fingerprints (J >= 0.9
#: pairs); 16 leaves 4 bits of margin. Fingerprints are xxhash64-
#: deterministic, so the band is stable at a given SF.
D04_HAMMING_BAND = 16
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprinting with a driver-attestable banded
    contract: for every EXACT near-dup pair (d02's machinery —
    DuckDB-recomputable), the 64-bit SimHash fingerprints of the two
    docs must agree to within D04_HAMMING_BAND bits — the property
    that makes SimHash a usable near-dup blocking key. Output: the
    exact pair set + ``hamming_le_band`` boolean; the oracle
    recomputes the exact side and claims TRUE. (Per-doc fingerprints
    stay available via operators/dedup.simhash_fingerprints.)"""
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir)
    pairs, _ = stage(
        dedup.jaccard_ngram_pairs(
            docs, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
        ).select("a_id", "b_id", "jaccard")
    )
    # Only docs that appear in a pair need a fingerprint: semi-join
    # the corpus down to pair members BEFORE the 64-vote aggregation
    # (guide §1.2 — don't compute what's thrown away; pair members
    # are a small fraction of the corpus at every scale). Output is
    # unchanged: the dropped fingerprints joined to nothing.
    # Referenced by both join sides — staged once.
    member_ids = pairs.select(
        F.explode(F.array(col("a_id"), col("b_id"))).alias("doc_id")
    ).distinct()
    fp, _ = stage(
        dedup.simhash_fingerprints(
            docs.join(member_ids, "doc_id", "left_semi")
        ).select("doc_id", "simhash")
    )
    ham = F.bit_count(col("fp_a").bitwiseXOR(col("fp_b")))
    return (
        pairs.join(
            fp.select(col("doc_id").alias("a_id"), col("simhash").alias("fp_a")),
            "a_id",
        )
        .join(
            fp.select(col("doc_id").alias("b_id"), col("simhash").alias("fp_b")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            col("jaccard").alias("exact_j"),
            (ham <= D04_HAMMING_BAND).alias("hamming_le_band"),
        )
    )
ORACLE_D04 = rf"""
WITH pairs AS ({ORACLE_D02})
SELECT a_id, b_id, jaccard AS exact_j, TRUE AS hamming_le_band
FROM pairs
"""
EMBED_NEARDUP_THRESHOLD = 0.4
def d05_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact cosine reads the table as scanned (see d08)
    return similarity.embed_neardup_pairs(
        read_table(spark, sf_dir, "embeddings"),
        threshold=EMBED_NEARDUP_THRESHOLD,
    )
ORACLE_D05 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(a.v, b.v), 6) >= {EMBED_NEARDUP_THRESHOLD}
"""
def d08_semantic_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SEMANTIC dedup via the EXACT escape hatch: this key
    deliberately calls semantic_dedup_pairs(exact=True) — the blocked
    all-pairs small-corpus VERIFICATION path — because its oracle is
    the exact recursive-CTE closure and the key's role is to prove
    the dedup-apply contract against exhaustive ground truth. The
    library DEFAULT (operators/similarity.semantic_dedup_pairs with
    exact=False) is the LSH-bucketed generator; its end-to-end key is
    d12_semantic_dedup_lsh, the documented 100 TB path with the same
    output contract. Do not run the exact form on a corpus that
    doesn't comfortably fit a single machine's O(N²) compute budget.

    Pipeline shape: pairs → connected components → keep each
    cluster's min-vec_id representative → surviving corpus per label
    (the embedding-space twin of d07's lexical dedup-apply). The pair
    graph is pair-sized, so the components take one staging job and
    finish on the driver (operators/dedup._LOCAL_MAX_EDGES); the
    checkpointed star rounds run only above that gate.

    Scale: identical join discipline to d07 — the drop list's size
    is duplicate-DEPENDENT (can approach corpus scale on a
    duplicate-heavy corpus), so no broadcast hint: AQE picks
    broadcast vs shuffle for the LEFT ANTI join at runtime from the
    drop list's actual size.

    Both reads of ``embeddings`` (the blocked cosine and the survivors
    aggregate) take the table as scanned, without
    ``pipeline_common._rebalance``: before the cosine's first shuffle
    the map side is only a hash and a B-way explode, and the cosine
    itself runs after its own block shuffle, so a round-robin exchange
    in front of either would be a shuffle that spreads no work.
    """
    from pyspark.sql.functions import col

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = similarity.semantic_dedup_pairs(
        emb, threshold=EMBED_NEARDUP_THRESHOLD, exact=True
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    losers = cc.filter(col("node") != col("cluster_id")).select(
        col("node").alias("vec_id")
    )
    survivors = emb.join(losers, "vec_id", "left_anti")
    return survivors.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.avg(F.sqrt(F.aggregate(
                col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            ))),
            6,
        ).alias("avg_norm"),
    )
ORACLE_D08 = f"""
WITH RECURSIVE pairs AS (
  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM e a, e b
  WHERE a.vec_id < b.vec_id
    AND round(list_cosine_similarity(a.v, b.v), 6) >= {{thr}}
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (SELECT u AS node, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
SELECT label,
       count(*) AS n_vecs,
       round(avg(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x)))), 6) AS avg_norm
FROM embeddings
WHERE vec_id NOT IN (SELECT node FROM cc WHERE node <> cluster_id)
GROUP BY label
""".replace("{thr}", str(EMBED_NEARDUP_THRESHOLD))
#: LSH parameters for the approximate semantic-dedup path. Tuned on a
#: measured recall/cost frontier (sf0.01 recall vs sf0.1 runtime):
#: 4 planes x 16 tables hit recall 0.98 but hot 16-bucket tables made
#: the candidate join dominate (37 s at sf0.1); 5 x 24 measured
#: recall 0.966 at a third of that cost; 6 x 40 holds the SAME 0.966
#: recall 28% faster still (3.6 s vs 5.0 s at sf0.1 — candidate
#: volume n²/2^planes x tables drops 17% and buckets parallelize
#: finer; 7 x 56 over-rotates to 0.949). Boundary collision
#: probability 1-(1-(1-theta/pi)^6)^40 ~ 0.93, and real near-dup
#: pairs sit well above the boundary. Deterministic: the Gaussian
#: plane matrix regenerates from a fixed seed on every executor.
D12_LSH_PLANES = 6
D12_LSH_TABLES = 40
def d12_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate semantic dedup — the documented 100 TB DEFAULT
    path for what d08 computes exactly: hyperplane-LSH candidate
    pairs (bucketed with occupancy caps, never all-pairs) → exact
    cosine verify at the same threshold (inside lsh_ann_pairs) →
    connected components (the same operator as d06/d08) → keep each
    cluster's min-vec_id
    representative → surviving corpus per label. Same output contract
    as d08; at corpus scale the LSH bucket join replaces d05's
    O(N²/B) blocked all-pairs stage, which is the only part of d08
    that cannot survive 100 TB. At bench SFs the exact path is
    actually FASTER (5k vectors: N² is trivial while LSH pays a fixed
    num_tables x num_planes x d hashing cost per row) — the
    asymptotics, not the small-scale constant, are what this key
    demonstrates.

    rows-only BY DESIGN: a banded oracle would require computing the
    exact all-pairs survivor set inside this key's own plan — the
    very O(N^2) stage this path exists to replace — so the evidence
    is pair recall >= 0.9 vs the exact d05 generator
    (tests/test_dedup.py), the measured pair-generation scaling
    exponent (tools/scale_spot_bench.py at several --scale values),
    and the suite-wide plan audit confirming no CartesianProduct /
    all-pairs stage.
    """
    from pyspark.sql.functions import col

    emb = _emb(spark, sf_dir)
    # the library DEFAULT path (exact=False): LSH-bucketed candidates
    pairs = similarity.semantic_dedup_pairs(
        emb,
        threshold=EMBED_NEARDUP_THRESHOLD,
        num_planes=D12_LSH_PLANES,
        num_tables=D12_LSH_TABLES,
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    losers = cc.filter(col("node") != col("cluster_id")).select(
        col("node").alias("vec_id")
    )
    survivors = emb.join(losers, "vec_id", "left_anti")
    return survivors.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.avg(F.sqrt(F.aggregate(
                col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            ))),
            6,
        ).alias("avg_norm"),
    )
#: The "incoming batch" for the incremental-dedup demonstration:
#: one source partition plays the role of today's crawl drop.
D13_BATCH_SOURCE = "src0"
def d13_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: match ONE source partition (the incoming
    batch) against the rest of the corpus — the incremental form of
    d02/d07 that a production pipeline actually runs per crawl drop.
    See dedup.incremental_jaccard_matches for the one-sided index
    join; batch×batch and corpus×corpus pairs are never formed.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir)
    batch = docs.filter(col("source") == D13_BATCH_SOURCE)
    corpus = docs.filter(col("source") != D13_BATCH_SOURCE)
    return dedup.incremental_jaccard_matches(
        batch,
        corpus,
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    )
ORACLE_D13 = rf"""
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents
),
pos AS (
  SELECT doc_id, source, unnest(tk) AS w, generate_subscripts(tk, 1) AS i
  FROM toks
),
sh AS (
  SELECT DISTINCT a.doc_id, a.source,
         a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM pos a
  JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
corpus_kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE source <> '{D13_BATCH_SOURCE}'
    AND shingle IN (SELECT shingle FROM sh WHERE source <> '{D13_BATCH_SOURCE}'
                    GROUP BY shingle HAVING count(*) <= {STOP_SHINGLE_DF})
),
batch_sh AS (SELECT doc_id, shingle FROM sh WHERE source = '{D13_BATCH_SOURCE}'),
inter AS (
  SELECT n.doc_id AS a_id, o.doc_id AS b_id, count(*) AS n_inter
  FROM batch_sh n JOIN corpus_kept o ON n.shingle = o.shingle
  GROUP BY 1, 2
),
scored AS (
  SELECT a_id, b_id, n_inter,
         round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
           AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
),
best AS (
  SELECT a_id, b_id, n_inter, jaccard,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY jaccard DESC, b_id) AS rk
  FROM scored
  WHERE jaccard >= {JACCARD_THRESHOLD}
)
SELECT a_id AS doc_id, b_id AS match_id, n_inter, jaccard
FROM best WHERE rk = 1
"""
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster centrality: PageRank over the d02 jaccard
    pair graph — ranks each doc's centrality within its duplicate
    neighborhood (the better canonical-representative pick than
    min-id for large clusters). See operators/graph.pagerank."""
    from llamadb_spark.operators.graph import pagerank

    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    return pagerank(pairs, iters=3)
ORACLE_G01_TEMPLATE = rf"""
WITH pairs AS (
  {{d02}}
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
),
deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
r0 AS (SELECT u, 1.0 AS rank FROM deg),
r1 AS (
  SELECT e.v AS u, 0.15 + 0.85 * sum(r.rank / dg.d) AS rank
  FROM edges e JOIN r0 r ON r.u = e.u JOIN deg dg ON dg.u = e.u
  GROUP BY e.v
),
r2 AS (
  SELECT e.v AS u, 0.15 + 0.85 * sum(r.rank / dg.d) AS rank
  FROM edges e JOIN r1 r ON r.u = e.u JOIN deg dg ON dg.u = e.u
  GROUP BY e.v
),
r3 AS (
  SELECT e.v AS u, 0.15 + 0.85 * sum(r.rank / dg.d) AS rank
  FROM edges e JOIN r2 r ON r.u = e.u JOIN deg dg ON dg.u = e.u
  GROUP BY e.v
)
SELECT u AS node, round(rank, 6) AS rank FROM r3
"""
ORACLE_G01 = ORACLE_G01_TEMPLATE.replace("{d02}", ORACLE_D02)
def g02_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph: how many docs have
    k near-duplicates. The first diagnostic on any dedup run — a
    heavy high-degree tail means boilerplate/template families (one
    hub similar to thousands), a flat histogram means pairwise
    copies. Two map-side-combined aggregations over the pair list;
    no joins."""
    from pyspark.sql.functions import col

    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    # explode, not union: a union would reference (and re-plan) the
    # whole pair-generation pipeline twice
    nodes = pairs.select(
        F.explode(F.array(col("a_id"), col("b_id"))).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
ORACLE_G02_TEMPLATE = r"""
WITH pairs AS (
  {d02}
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a_id AS node FROM pairs
    UNION ALL
    SELECT b_id FROM pairs
  ) GROUP BY node
)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""
ORACLE_G02 = ORACLE_G02_TEMPLATE.replace("{d02}", ORACLE_D02)
def g03_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph + global clustering
    coefficient — triangles distinguish transitive duplicate FAMILIES
    (A~B~C~A: one boilerplate template) from coincidental pairwise
    matches (A~B, B~C, A≁C: chained borderline similarity), which
    decides whether cluster-level or pair-level remediation is right.

    Classic two-join triangle counting on oriented edges: pairs
    already carry a_id < b_id, so each triangle a<b<c is found
    exactly once as (a,b)+(b,c) wedges closed by a semi-join on
    (a,c). At 100 TB you'd orient by (degree, id) instead of raw id
    to bound wedge fan-out by arboricity (the id orientation here is
    equivalent work when ids are uncorrelated with degree); the
    occupancy-capped pair graph keeps degrees bounded upstream.
    Wedge count Σ d(d-1)/2 gives the clustering denominator.
    """
    from pyspark.sql.functions import col

    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    pairs, _ = stage(pairs)  # 4 consumers below
    wedges = (
        pairs.select(col("a_id").alias("a"), col("b_id").alias("b"))
        .join(
            pairs.select(col("a_id").alias("b"), col("b_id").alias("c")), "b"
        )
        .select("a", "b", "c")
    )
    tris = wedges.join(
        pairs.select(col("a_id").alias("a"), col("b_id").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    deg = (
        pairs.select(F.explode(F.array("a_id", "b_id")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # three 1-row scalar aggregates cross-joined — fully declarative,
    # nothing driver-side
    return (
        pairs.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(tris.agg(F.count(F.lit(1)).alias("n_triangles")))
        .crossJoin(
            deg.agg(F.sum(col("d") * (col("d") - 1) / 2).alias("_w"))
        )
        .select(
            "n_edges",
            "n_triangles",
            F.round(
                F.when(
                    col("_w") > 0, 3.0 * col("n_triangles") / col("_w")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("global_clustering"),
        )
    )
ORACLE_G03_TEMPLATE = r"""
WITH pairs AS (
  {d02}
),
e AS (SELECT a_id, b_id FROM pairs),
tri AS (
  SELECT count(*) AS n_tri
  FROM e e1
  JOIN e e2 ON e2.a_id = e1.b_id
  JOIN e e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a_id AS node FROM e UNION ALL SELECT b_id FROM e
  ) GROUP BY node
),
w AS (SELECT sum(d * (d - 1) / 2.0) AS n_wedges FROM deg)
SELECT (SELECT count(*) FROM e) AS n_edges,
       CAST(n_tri AS BIGINT) AS n_triangles,
       round(CASE WHEN n_wedges > 0 THEN 3.0 * n_tri / n_wedges
                  ELSE 0.0 END, 6) AS global_clustering
FROM tri, w
"""
ORACLE_G03 = ORACLE_G03_TEMPLATE.replace("{d02}", ORACLE_D02)
CONTAINMENT_THRESHOLD = 0.3
def d14_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt detection: smaller-doc shingle containment in a larger
    doc (see dedup.containment_pairs — jaccard's union denominator
    hides quotes; containment's min() denominator flags them)."""
    return dedup.containment_pairs(
        _docs(spark, sf_dir),
        threshold=CONTAINMENT_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    )
ORACLE_D14 = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
),
pos AS (
  SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS i FROM toks
),
sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM pos a
  JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= {STOP_SHINGLE_DF})
),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT a_id, b_id, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
         round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
           AS containment
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
)
SELECT CASE WHEN n_a < n_b OR (n_a = n_b AND a_id < b_id)
            THEN a_id ELSE b_id END AS inner_id,
       CASE WHEN n_a < n_b OR (n_a = n_b AND a_id < b_id)
            THEN b_id ELSE a_id END AS outer_id,
       n_inter, containment
FROM scored
WHERE containment >= {CONTAINMENT_THRESHOLD}
"""
#: Candidate width for edit-distance dedup: long-run candidates are
#: near-verbatim, so a small absolute edit budget separates true
#: near-dups from coincidental run sharing.
EDIT_DIST_MAX = 80
def d11_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup with EXACT edit-distance verification: candidate
    pairs from the shared long-run index (d09 — bounded, never
    O(n²)), then levenshtein on the candidate pair's full texts via
    one join-back. The candidate set is duplicate-bounded, so the
    O(len²) edit-distance work runs on a tiny fraction of the corpus
    — the standard sieve: cheap blocking first, exact verify second.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cand = dedup.shared_ngram_pairs(docs, n=LONGRUN_N).select("a_id", "b_id")
    # Join-back direction matters at scale: join the candidate list
    # (duplicate-DEPENDENT size, and text-weighted once `_ta` is
    # attached) against the corpus scan, but leave the strategy to
    # AQE — a forced broadcast of candidate full texts OOMs on a
    # duplicate-heavy corpus, while AQE still broadcasts when the
    # candidate set is genuinely small.
    with_a = docs.select(
        col("doc_id").alias("a_id"), col("text").alias("_ta")
    ).join(cand, "a_id")
    scored = docs.select(
        col("doc_id").alias("b_id"), col("text").alias("_tb")
    ).join(with_a, "b_id").withColumn(
        "edit_dist", F.levenshtein("_ta", "_tb").cast("long")
    )
    return scored.filter(col("edit_dist") <= EDIT_DIST_MAX).select(
        "a_id", "b_id", "edit_dist"
    )
def d10_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract and same oracle as d06 (near-dup pairs → min-id
    component labels), computed by the same connected-components
    operator as d06. The key stays so the benchmark's key set and
    headline do not move; the star rounds behind the operator's
    driver finish are covered by tests/test_dedup.py and
    tests/test_properties.py."""
    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    return dedup.connected_components(pairs)
#: Long-run width for exact substring-style dedup: 8 consecutive
#: shared words ≈ verbatim copying in the synthetic corpus (6 and 8
#: find the same 25 exact-dup pairs; 4 starts catching boilerplate).
LONGRUN_N = 8
def d09_shared_longrun(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.shared_ngram_pairs(_docs(spark, sf_dir), n=LONGRUN_N)
ORACLE_D09 = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(tk, k, k + {LONGRUN_N - 1}), ' ') AS shingle
  FROM (
    SELECT doc_id, tk,
           unnest(generate_series(1, len(tk) - {LONGRUN_N - 1})) AS k
    FROM toks WHERE len(tk) >= {LONGRUN_N}
  )
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""
ORACLE_D11 = rf"""
WITH cand AS ({ORACLE_D09}),
scored AS (
  SELECT a_id, b_id,
         CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
  FROM cand
  JOIN documents da ON da.doc_id = a_id
  JOIN documents db ON db.doc_id = b_id
)
SELECT a_id, b_id, edit_dist FROM scored WHERE edit_dist <= {EDIT_DIST_MAX}
"""
def d15_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-family size distribution: how many near-dup clusters exist
    at each size — the diagnostic that distinguishes a corpus with a
    million pairwise dupes (size-2 families, crawl artifacts) from
    one dominated by a few giant boilerplate families (size-1000,
    template farms), which need different remediation. Two tiny
    aggregations on top of d06's component labels; oracled through
    the same recursive-CTE closure.
    """
    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_clusters"))
ORACLE_D15 = rf"""
WITH cc AS (
  {ORACLE_D06}
),
sizes AS (SELECT cluster_id, count(*) AS size FROM cc GROUP BY cluster_id)
SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size
"""
#: Lower bound for the d16 similarity sweep — spans BELOW the
#: production JACCARD_THRESHOLD (0.12) so the curve shows both sides
#: of the chosen operating point.
D16_MIN_J = 0.05
def d16_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold tuning curve: near-dup pair counts per
    0.1-wide Jaccard band from 0.3 up — ONE pass at the lowered
    threshold instead of re-running dedup per candidate threshold.
    The curve is how the production threshold gets chosen (the knee
    where pair volume explodes marks where 'near-dup' stops meaning
    duplication and starts meaning topical similarity).
    """
    from pyspark.sql.functions import col

    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=D16_MIN_J,
        stop_shingle_df=STOP_SHINGLE_DF,
    )
    bucket = F.round(F.floor(col("jaccard") * 10) / 10, 1)
    # sum in integer micro-jaccards: float averaging is partition-
    # order dependent in the last ulp, which flips a 6dp round on
    # boundary values — integers can't
    micro = F.round(col("jaccard") * 1_000_000).cast("bigint")
    return pairs.groupBy(bucket.alias("j_band")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(micro).alias("sum_j_micros"),
    )
ORACLE_D16 = f"""
WITH pairs AS (
{ORACLE_D02.replace(f">= {JACCARD_THRESHOLD}", f">= {D16_MIN_J}")}
)
SELECT round(floor(jaccard * 10) / 10, 1) AS j_band,
       count(*) AS n_pairs,
       CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
         AS sum_j_micros
FROM pairs GROUP BY 1
"""
# the sweep oracle must really carry the lowered threshold — a silent
# failed replace would diverge from the Spark side's D16_MIN_J
assert f">= {D16_MIN_J}" in ORACLE_D16
#: Absolute error band the calibration attests per pair. k=32 hashes
#: give estimator std ≈ sqrt(J(1-J)/32) ≤ 0.088; the signatures are
#: deterministic (JVM xxhash64), so per-pair errors are fixed numbers
#: at a given SF — 0.30 (>3.4σ) holds with wide margin at sf0.001-0.1
#: (the tighter RMSE envelope is asserted in tests/test_dedup.py).
D18_ERR_BAND = 0.30
def d18_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration with a driver-attestable banded
    contract: over the EXACT high-Jaccard pair set (d02's shingle
    machinery — DuckDB-recomputable, unlike LSH candidates), compare
    the k=32 SIGNATURE-estimated Jaccard (matching positions / k,
    what d03 filters on) against the exact Jaccard, and emit per pair
    the exact-computable columns (ids, shared-shingle count, exact
    Jaccard) plus ``est_within_band`` — the report that tells you
    whether k=32 hashes is enough before trusting a threshold at
    corpus scale. The oracle recomputes the exact side and claims
    TRUE, so the hash matches iff the estimator landed inside the
    band on every pair.

    Scale: signatures join back ONLY onto the exact pair list
    (blocked, never all-pairs); one zip_with per pair for the
    position-match count.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir)
    # shared staged shingle index (see d03): exact pairs + signatures
    # off one barrier and one shingle pass
    idx = dedup.hashed_shingle_index(docs)
    pairs = dedup.jaccard_ngram_pairs(
        docs,
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
        index=idx,
    ).select("a_id", "b_id", "n_inter", "jaccard")
    # referenced by both join sides — stage the n_docs signature rows
    # once instead of re-running the shingle+minhash pipeline twice
    sigs, _ = stage(dedup.minhash_signatures(docs, num_hashes=32, index=idx))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(32.0)
    )
    return (
        pairs.join(
            sigs.select(col("doc_id").alias("a_id"), col("sig").alias("sig_a")),
            "a_id",
        )
        .join(
            sigs.select(col("doc_id").alias("b_id"), col("sig").alias("sig_b")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            "n_inter",
            col("jaccard").alias("exact_j"),
            (F.abs(est - col("jaccard")) <= D18_ERR_BAND).alias(
                "est_within_band"
            ),
        )
    )
ORACLE_D18 = rf"""
WITH pairs AS ({ORACLE_D02})
SELECT a_id, b_id, n_inter, jaccard AS exact_j, TRUE AS est_within_band
FROM pairs
"""
def d17_pair_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where do near-duplicates come from — the SAME source
    (re-crawl/retry artifacts, fixable upstream) or ACROSS sources
    (syndication/mirrors, inherent to the web)? Counts per canonical
    source pair with an intra/cross flag; the answer decides whether
    dedup budget goes into crawl hygiene or cross-source blocking.

    Scale: two dim-bounded joins of the (tiny) pair list back onto
    (doc_id → source); the aggregate key space is n_sources².
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    pairs = dedup.jaccard_ngram_pairs(
        _docs(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    tagged = (
        pairs.join(
            docs.select(col("doc_id").alias("a_id"), col("source").alias("src_a")),
            "a_id",
        )
        .join(
            docs.select(col("doc_id").alias("b_id"), col("source").alias("src_b")),
            "b_id",
        )
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
    )
    return tagged.groupBy("src_lo", "src_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max(F.when(col("src_lo") == col("src_hi"), "intra").otherwise("cross")).alias(
            "kind"
        ),
    )
ORACLE_D17 = rf"""
WITH pairs AS (
  {ORACLE_D02}
),
tagged AS (
  SELECT least(da.source, db.source) AS src_lo,
         greatest(da.source, db.source) AS src_hi
  FROM pairs p
  JOIN documents da ON da.doc_id = p.a_id
  JOIN documents db ON db.doc_id = p.b_id
)
SELECT src_lo, src_hi, count(*) AS n_pairs,
       CASE WHEN src_lo = src_hi THEN 'intra' ELSE 'cross' END AS kind
FROM tagged GROUP BY 1, 2
"""
#: d19/d20: exact substring-span dedup (Lee et al. 2022 semantics).
#: Seeding: every doc with doc_id % 50 == 3 gets a guarded excerpt
#: twin (id + 1_000_000) so the corpus deterministically contains
#: known overlapping byte ranges; the detector must recover their
#: exact spans (plus any organic duplicate runs already present).
D19_MIN_LEN = 40
D19_MAX_GRAM_OCC = 200
D19_EXCERPT_MOD = 50
D19_EXCERPT_REM = 3
D19_EXCERPT_FROM = 21
D19_EXCERPT_LEN = 160
def _d19_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ guarded excerpts — the seeded-overlap corpus both
    d19 and its DuckDB oracle detect spans over."""
    from pyspark.sql.functions import col

    base = _docs(spark, sf_dir).select("doc_id", "text")
    excerpts = base.filter(
        col("doc_id") % D19_EXCERPT_MOD == D19_EXCERPT_REM
    ).select(
        (col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("zqx-"),
            F.substring("text", D19_EXCERPT_FROM, D19_EXCERPT_LEN),
            F.lit("-xqz"),
        ).alias("text"),
    )
    return base.unionByName(excerpts)
def d19_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at span granularity: every maximal
    cross-doc shared character run ≥ 40 chars, with exact offsets
    (operators/spans.py seed-and-chain; Lee et al. 2022 suffix-array
    semantics, distributed). Oracle recomputes the identical span set
    in DuckDB SQL from the same seeded corpus — a fully independent
    detection, not a replay of the construction."""
    from llamadb_spark.operators.spans import substring_span_pairs

    return substring_span_pairs(
        _d19_corpus(spark, sf_dir),
        min_len=D19_MIN_LEN,
        max_gram_occ=D19_MAX_GRAM_OCC,
    )
def d20_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply half: cut each detected span out of the HIGHER-id
    doc of its pair (merged-interval removal), returning the cleaned
    text per affected doc. Hash-matches DuckDB's independent removal
    (same policy) exactly."""
    from llamadb_spark.operators.spans import (
        remove_spans,
        substring_span_pairs,
    )

    corpus = _d19_corpus(spark, sf_dir)
    spans = substring_span_pairs(
        corpus, min_len=D19_MIN_LEN, max_gram_occ=D19_MAX_GRAM_OCC
    )
    return remove_spans(corpus, spans)
def d21_duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-duplication profile over the d19 seeded corpus: per
    source — docs, affected docs, total vs duplicated chars (merged
    b-side span intervals, overlap-safe) and an exact integer
    per-mille duplication ratio. The go/no-go number before running
    the d20 removal at corpus scale; oracle recomputes the identical
    profile in DuckDB from its own independent span detection."""
    from pyspark.sql.functions import col

    from llamadb_spark.operators.spans import (
        duplication_profile,
        substring_span_pairs,
    )

    base = _docs(spark, sf_dir).select("doc_id", "text", "source")
    excerpts = base.filter(
        col("doc_id") % D19_EXCERPT_MOD == D19_EXCERPT_REM
    ).select(
        (col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("zqx-"),
            F.substring("text", D19_EXCERPT_FROM, D19_EXCERPT_LEN),
            F.lit("-xqz"),
        ).alias("text"),
        F.lit("excerpt").alias("source"),
    )
    corpus = base.unionByName(excerpts)
    spans = substring_span_pairs(
        corpus, min_len=D19_MIN_LEN, max_gram_occ=D19_MAX_GRAM_OCC
    )
    return duplication_profile(corpus, spans, group_col="source")
_D19_CORPUS_SQL = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zqx-' || substr(text, {D19_EXCERPT_FROM}, {D19_EXCERPT_LEN})
             || '-xqz' AS text
  FROM documents WHERE doc_id % {D19_EXCERPT_MOD} = {D19_EXCERPT_REM}
),
grams AS (
  SELECT doc_id, p AS pos,
         substr(text, CAST(p AS INT), {D19_MIN_LEN}) AS gram
  FROM corpus, unnest(generate_series(1, length(text) - {D19_MIN_LEN - 1}))
       AS t(p)
  WHERE length(text) >= {D19_MIN_LEN}
),
grams_ok AS (
  SELECT * FROM grams
  QUALIFY count(*) OVER (PARTITION BY gram) <= {D19_MAX_GRAM_OCC}
),
m AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         a.pos AS a_pos, b.pos AS b_pos, a.pos - b.pos AS diag
  FROM grams_ok a JOIN grams_ok b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
),
spans AS (
  SELECT a_id, b_id, min(a_pos) AS a_start, min(b_pos) AS b_start,
         count(*) + {D19_MIN_LEN - 1} AS run_len
  FROM (
    SELECT *, a_pos - row_number() OVER (
      PARTITION BY a_id, b_id, diag ORDER BY a_pos) AS grp
    FROM m
  )
  GROUP BY a_id, b_id, diag, grp
)
"""
ORACLE_D19 = f"""
WITH {_D19_CORPUS_SQL}
SELECT a_id, b_id, a_start, b_start, run_len FROM spans
"""
ORACLE_D20 = f"""
WITH {_D19_CORPUS_SQL},
iv AS (
  SELECT b_id AS doc_id, b_start AS s, b_start + run_len AS e FROM spans
),
flagged AS (
  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                 THEN 1 ELSE 0 END AS new_isl
  FROM (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_e
    FROM iv
  )
),
merged AS (
  SELECT doc_id, isl, min(s) AS s, max(e) AS e
  FROM (
    SELECT *, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e)
              AS isl
    FROM flagged
  )
  GROUP BY doc_id, isl
),
gaps AS (
  SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
           AS gs,
         s AS ge
  FROM merged
  UNION ALL
  SELECT m.doc_id, max(m.e) AS gs, any_value(length(c.text) + 1) AS ge
  FROM merged m JOIN corpus c ON c.doc_id = m.doc_id
  GROUP BY m.doc_id
),
pieces AS (
  SELECT g.doc_id, g.gs,
         substr(c.text, CAST(g.gs AS INT),
                CAST(greatest(g.ge - g.gs, 0) AS INT)) AS piece
  FROM gaps g JOIN corpus c ON c.doc_id = g.doc_id
),
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         CAST(sum(e - s) AS BIGINT) AS removed_chars
  FROM merged GROUP BY doc_id
)
SELECT s.doc_id, s.n_spans, s.removed_chars,
       coalesce(p.clean_text, '') AS clean_text
FROM stats s
JOIN (
  SELECT doc_id, string_agg(piece, '' ORDER BY gs) AS clean_text
  FROM pieces GROUP BY doc_id
) p ON p.doc_id = s.doc_id
"""
ORACLE_D21 = f"""
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zqx-' || substr(text, {D19_EXCERPT_FROM}, {D19_EXCERPT_LEN})
             || '-xqz' AS text,
         'excerpt' AS source
  FROM documents WHERE doc_id % {D19_EXCERPT_MOD} = {D19_EXCERPT_REM}
),
grams AS (
  SELECT doc_id, p AS pos,
         substr(text, CAST(p AS INT), {D19_MIN_LEN}) AS gram
  FROM corpus, unnest(generate_series(1, length(text) - {D19_MIN_LEN - 1}))
       AS t(p)
  WHERE length(text) >= {D19_MIN_LEN}
),
grams_ok AS (
  SELECT * FROM grams
  QUALIFY count(*) OVER (PARTITION BY gram) <= {D19_MAX_GRAM_OCC}
),
m AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         a.pos AS a_pos, b.pos AS b_pos, a.pos - b.pos AS diag
  FROM grams_ok a JOIN grams_ok b
    ON a.gram = b.gram AND a.doc_id < b.doc_id
),
spans AS (
  SELECT a_id, b_id, min(a_pos) AS a_start, min(b_pos) AS b_start,
         count(*) + {D19_MIN_LEN - 1} AS run_len
  FROM (
    SELECT *, a_pos - row_number() OVER (
      PARTITION BY a_id, b_id, diag ORDER BY a_pos) AS grp
    FROM m
  )
  GROUP BY a_id, b_id, diag, grp
),
iv AS (
  SELECT b_id AS doc_id, b_start AS s, b_start + run_len AS e FROM spans
),
flagged AS (
  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                 THEN 1 ELSE 0 END AS new_isl
  FROM (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_e
    FROM iv
  )
),
merged AS (
  SELECT doc_id, isl, min(s) AS s, max(e) AS e
  FROM (
    SELECT *, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e)
              AS isl
    FROM flagged
  )
  GROUP BY doc_id, isl
),
per_doc AS (
  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS dup_chars
  FROM merged GROUP BY doc_id
)
SELECT c.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_affected,
       CAST(sum(length(c.text)) AS BIGINT) AS total_chars,
       CAST(sum(coalesce(p.dup_chars, 0)) AS BIGINT) AS dup_chars,
       CAST((1000 * sum(coalesce(p.dup_chars, 0)))
            // sum(length(c.text)) AS BIGINT) AS dup_permille
FROM corpus c LEFT JOIN per_doc p ON p.doc_id = c.doc_id
GROUP BY c.source
"""
#: d22: within-doc repeat seeding — every doc with doc_id % 40 == 7
#: re-appends a mid-section of itself, planting an internal repeat
#: the detector must recover at exact offsets.
D22_REPEAT_MOD = 40
D22_REPEAT_REM = 7
D22_REPEAT_FROM = 11
D22_REPEAT_LEN = 90
def d22_intra_doc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated substrings (Lee et al.'s self-repeat
    half, #272): maximal pairs of occurrences of runs ≥ 40 chars
    inside one doc, exact offsets — template stutter / generation
    degeneracy at span granularity (t06's repetition ratio tells you
    HOW MUCH a doc repeats; this tells you exactly WHERE). Seeded
    corpus: docs ≡ 7 (mod 40) re-append a mid-section of themselves;
    the DuckDB oracle detects independently over the same corpus."""
    from pyspark.sql.functions import col

    from llamadb_spark.operators.spans import intra_doc_repeat_spans

    base = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = base.select(
        "doc_id",
        F.when(
            col("doc_id") % D22_REPEAT_MOD == D22_REPEAT_REM,
            F.concat(
                col("text"),
                F.lit(" :: "),
                F.substring("text", D22_REPEAT_FROM, D22_REPEAT_LEN),
            ),
        ).otherwise(col("text")).alias("text"),
    )
    return intra_doc_repeat_spans(
        corpus, min_len=D19_MIN_LEN, max_gram_occ=D19_MAX_GRAM_OCC
    )
ORACLE_D22 = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {D22_REPEAT_MOD} = {D22_REPEAT_REM}
              THEN text || ' :: '
                   || substr(text, {D22_REPEAT_FROM}, {D22_REPEAT_LEN})
              ELSE text END AS text
  FROM documents
),
grams AS (
  SELECT doc_id, p AS pos,
         substr(text, CAST(p AS INT), {D19_MIN_LEN}) AS gram
  FROM corpus, unnest(generate_series(1, length(text) - {D19_MIN_LEN - 1}))
       AS t(p)
  WHERE length(text) >= {D19_MIN_LEN}
),
grams_ok AS (
  SELECT * FROM grams
  QUALIFY count(*) OVER (PARTITION BY gram) <= {D19_MAX_GRAM_OCC}
),
m AS (
  SELECT a.doc_id, a.pos AS a_pos, b.pos AS b_pos,
         b.pos - a.pos AS diag
  FROM grams_ok a JOIN grams_ok b
    ON a.gram = b.gram AND a.doc_id = b.doc_id AND a.pos < b.pos
)
SELECT doc_id, min(a_pos) AS first_start, min(b_pos) AS second_start,
       count(*) + {D19_MIN_LEN - 1} AS run_len
FROM (
  SELECT *, a_pos - row_number() OVER (
    PARTITION BY doc_id, diag ORDER BY a_pos) AS grp
  FROM m
)
GROUP BY doc_id, diag, grp
"""
def d24_quality_dedup_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection — the
    production keep-policy: within each near-dup cluster keep the
    HIGHEST-QUALITY member (t28's exact integer logit, doc_id
    tie-break), not the arbitrary min-id d07 keeps. Real pipelines
    choose the canonical copy by quality (the cleanest crawl of a
    syndicated article), and the swap is free — the cluster pass
    already exists; only the per-cluster argmax changes.

    Output: (cluster_id, keep_id, n_members, keep_logit_micro), one
    row per near-dup cluster. Exactly DuckDB-oracled (recursive-CTE
    clusters + VALUES-table logits + the same window argmax).

    Scale: the d02/d06 machinery (blocked pairs, connected
    components) plus ONE window partitioned by cluster_id
    (cluster-bounded) and a broadcast-joinable logit table; nothing
    new shuffles corpus-wide.
    """
    from pyspark.sql.functions import col
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_ngram_pairs(
        docs, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    logits = textops.linear_quality_score(
        docs, weights_micro=T28_WEIGHTS_MICRO, bias_micro=T28_BIAS_MICRO
    ).select(col("doc_id").alias("node"), "logit_micro")
    m = cc.join(logits, "node")
    w = Window.partitionBy("cluster_id").orderBy(
        col("logit_micro").desc(), col("node").asc()
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_members",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(col("rn") == 1)
        .select(
            "cluster_id",
            col("node").alias("keep_id"),
            "n_members",
            col("logit_micro").alias("keep_logit_micro"),
        )
    )
ORACLE_D24 = rf"""
WITH RECURSIVE pairs AS (
  {ORACLE_D02}
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
cc AS (
  SELECT u AS node, least(u, min(v)) AS cluster_id
  FROM reach GROUP BY u
),
qtoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
wt AS (SELECT * FROM (VALUES {{T28V}}) AS t(tok, w_micro)),
q AS (
  SELECT doc_id,
         CAST(sum(coalesce(wt.w_micro, 0)) + {{T28B}} AS BIGINT)
           AS logit_micro
  FROM qtoks LEFT JOIN wt USING (tok)
  GROUP BY doc_id
),
m AS (
  SELECT cc.node, cc.cluster_id, q.logit_micro,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY q.logit_micro DESC, cc.node) AS rn,
         count(*) OVER (PARTITION BY cc.cluster_id) AS n_members
  FROM cc JOIN q ON q.doc_id = cc.node
)
SELECT cluster_id, node AS keep_id, n_members,
       logit_micro AS keep_logit_micro
FROM m WHERE rn = 1
""".replace("{T28V}", _T28_VALUES).replace("{T28B}", str(T28_BIAS_MICRO))
#: d25 line-dedup corpus construction: body sliced into fixed-width
#: lines plus a per-source boilerplate header — the exact pattern
#: C4-style line dedup exists to remove (site chrome repeated on
#: every page of a source).
D25_LINE_W = 80
def d25_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-LINE removal (the C4 pipeline step,
    Raffel et al. 2020 §2.2 — public: "we removed any line that
    occurred more than once in the data set", keep-first form):
    every distinct line keeps its FIRST occurrence by (doc_id,
    line_no); later occurrences are stripped and documents
    reassembled from their surviving lines. The seeded corpus gives
    each doc a per-source boilerplate header line + fixed-width body
    slices, so dedup must strip the header everywhere except the
    first doc of each source — the real-world site-chrome case.

    Output: one row per doc — (doc_id, n_lines, n_removed,
    clean_text). Exactly DuckDB-oracled.

    Scale (VERDICT r08 #1): keep-first is a groupBy(line).min(
    struct(doc_id, line_no)) — a MAP-SIDE-COMBINABLE partial
    aggregate, so a boilerplate line present in a large fraction of
    all docs (the C4 site-chrome case) combines to one row per map
    task before the shuffle; the join-back on line is an ordinary
    equi-join that AQE's OptimizeSkewedJoin CAN split. The previous
    row_number window partitioned by raw line content concentrated
    every occurrence of the hottest line into ONE non-splittable
    window partition (AQE splits joins, not windows) — right answer,
    wrong plan at 100×. Then a per-doc regroup. Nothing quadratic,
    no Python.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    w = D25_LINE_W
    # Guard: ceil(0/w)=0 would give Spark's DESCENDING sequence(1,0)
    # = [1, 0] → two spurious body lines for an empty-text doc, vs
    # the oracle's empty generate_series(1, 0) (ADVICE r08).
    body = F.expr(
        f"if(length(text) >= 1,"
        f" transform(sequence(1, CAST(ceil(length(text)/{w}.0) AS INT)),"
        f"   i -> substring(text, (i-1)*{w}+1, {w})),"
        f" cast(array() as array<string>))"
    )
    header = F.concat(F.lit("hdr-"), col("source"), F.lit("-boilerplate"))
    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.concat(F.array(header), body)
        ).alias("line_no", "line"),
    )
    # First occurrence per distinct line: lexicographic struct min ==
    # ORDER BY doc_id, line_no. Partial-agg shape — skew-irrelevant.
    keep = (
        lines.groupBy("line")
        .agg(F.min(F.struct("doc_id", "line_no")).alias("k"))
        .select(
            "line",
            col("k.doc_id").alias("keep_doc"),
            col("k.line_no").alias("keep_line_no"),
        )
    )
    marked = lines.join(keep, "line").withColumn(
        "is_first",
        (col("doc_id") == col("keep_doc"))
        & (col("line_no") == col("keep_line_no")),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum((~col("is_first")).cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                col("is_first"),
                                F.struct("line_no", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select("doc_id", "n_lines", "n_removed", "clean_text")
    )
ORACLE_D25 = f"""
WITH lines AS (
  SELECT doc_id, 0 AS line_no,
         'hdr-' || source || '-boilerplate' AS line
  FROM documents
  UNION ALL
  SELECT doc_id, i AS line_no,
         substr(text, (i-1)*{D25_LINE_W}+1, {D25_LINE_W}) AS line
  FROM documents,
       unnest(generate_series(
         1, CAST(ceil(length(text)/{D25_LINE_W}.0) AS INT))) AS t(i)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY line
                               ORDER BY doc_id, line_no) AS rn
  FROM lines
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_removed,
       coalesce(string_agg(line, chr(10) ORDER BY line_no)
                FILTER (rn = 1), '') AS clean_text
FROM ranked GROUP BY doc_id
"""
def d23_intra_doc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repeat REMOVAL apply (VERDICT r07 #7 — the Lee et
    al. self-repeat cut d22 detects but nothing applied): merge each
    doc's SECOND-occurrence intervals [second_start, second_start +
    run_len) and cut them, keeping the first occurrence — for
    periodic stutter ("ababab…") the occurrences overlap and the cut
    correctly collapses the run to its leading period. Same interval
    tooling as d20/p18 (remove_spans), same seeded self-repeat corpus
    as d22; output (doc_id, n_spans, removed_chars, clean_text) per
    affected doc, hash-matched by an independent DuckDB removal twin.

    Scale: detector windows are per (doc, diagonal); removal windows
    per doc — nothing global (the d20 analysis applies verbatim)."""
    from pyspark.sql.functions import col

    from llamadb_spark.operators.spans import (
        intra_doc_repeat_spans,
        remove_spans,
    )

    base = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = base.select(
        "doc_id",
        F.when(
            col("doc_id") % D22_REPEAT_MOD == D22_REPEAT_REM,
            F.concat(
                col("text"),
                F.lit(" :: "),
                F.substring("text", D22_REPEAT_FROM, D22_REPEAT_LEN),
            ),
        ).otherwise(col("text")).alias("text"),
    )
    spans = intra_doc_repeat_spans(
        corpus, min_len=D19_MIN_LEN, max_gram_occ=D19_MAX_GRAM_OCC
    )
    iv = spans.select(
        col("doc_id").alias("b_id"),
        col("second_start").alias("b_start"),
        "run_len",
    )
    return remove_spans(corpus, iv)
ORACLE_D23 = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % {D22_REPEAT_MOD} = {D22_REPEAT_REM}
              THEN text || ' :: '
                   || substr(text, {D22_REPEAT_FROM}, {D22_REPEAT_LEN})
              ELSE text END AS text
  FROM documents
),
grams AS (
  SELECT doc_id, p AS pos,
         substr(text, CAST(p AS INT), {D19_MIN_LEN}) AS gram
  FROM corpus, unnest(generate_series(1, length(text) - {D19_MIN_LEN - 1}))
       AS t(p)
  WHERE length(text) >= {D19_MIN_LEN}
),
grams_ok AS (
  SELECT * FROM grams
  QUALIFY count(*) OVER (PARTITION BY gram) <= {D19_MAX_GRAM_OCC}
),
m AS (
  SELECT a.doc_id, a.pos AS a_pos, b.pos AS b_pos,
         b.pos - a.pos AS diag
  FROM grams_ok a JOIN grams_ok b
    ON a.gram = b.gram AND a.doc_id = b.doc_id AND a.pos < b.pos
),
reps AS (
  SELECT doc_id, min(b_pos) AS second_start,
         count(*) + {D19_MIN_LEN - 1} AS run_len
  FROM (
    SELECT *, a_pos - row_number() OVER (
      PARTITION BY doc_id, diag ORDER BY a_pos) AS grp
    FROM m
  )
  GROUP BY doc_id, diag, grp
),
iv AS (
  SELECT doc_id, second_start AS s, second_start + run_len AS e FROM reps
),
flagged AS (
  SELECT *, CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                 THEN 1 ELSE 0 END AS new_isl
  FROM (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_e
    FROM iv
  )
),
merged AS (
  SELECT doc_id, isl, min(s) AS s, max(e) AS e
  FROM (
    SELECT *, sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e)
              AS isl
    FROM flagged
  )
  GROUP BY doc_id, isl
),
gaps AS (
  SELECT doc_id, coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
           AS gs,
         s AS ge
  FROM merged
  UNION ALL
  SELECT m2.doc_id, max(m2.e) AS gs, any_value(length(c.text) + 1) AS ge
  FROM merged m2 JOIN corpus c ON c.doc_id = m2.doc_id
  GROUP BY m2.doc_id
),
pieces AS (
  SELECT g.doc_id, g.gs,
         substr(c.text, CAST(g.gs AS INT),
                CAST(greatest(g.ge - g.gs, 0) AS INT)) AS piece
  FROM gaps g JOIN corpus c ON c.doc_id = g.doc_id
),
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         CAST(sum(e - s) AS BIGINT) AS removed_chars
  FROM merged GROUP BY doc_id
)
SELECT s.doc_id, s.n_spans, s.removed_chars,
       coalesce(p.clean_text, '') AS clean_text
FROM stats s
JOIN (
  SELECT doc_id, string_agg(piece, '' ORDER BY gs) AS clean_text
  FROM pieces GROUP BY doc_id
) p ON p.doc_id = s.doc_id
"""


# --- d26: registered-domain extraction / domain profile (round 10) --

def d26_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain (eTLD+1) extraction and per-domain profile —
    the first step of crawl-level curation (C4/RefinedWeb cap and
    dedup BY registered domain, not by raw host: www./cdn. subdomain
    variants of one registrant must collapse, and multi-label public
    suffixes like co.uk must not be mistaken for the registrable
    label). VERDICT r09 #5.

    URLs are seeded deterministically (documents has no url column —
    pipeline_common._docs_with_urls, integer arithmetic the oracle
    mirrors exactly); extraction is operators/urls.registered_domain
    — a generated longest-suffix-first when-chain, pure codegen'd
    JVM expressions. Output: one row per registered domain with its
    public suffix, doc count, and distinct upstream sources — one
    map-side-combinable aggregate over ≤|domains| groups.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators import urls
    from llamadb_spark.queries.pipeline_common import _docs_with_urls

    docs = _docs_with_urls(spark, sf_dir)
    # r11: the r10 host-staging projection is REVERTED. The staged
    # `_host` column looked right on paper (the plan inlines the
    # regexp into every when-arm, ~32 textual copies), but the
    # r10 driver bench regressed d26 22% and a dedicated paired ABBA
    # this round confirmed it (ratio 1.12 staged/inline):
    # whole-stage codegen's SUBEXPRESSION ELIMINATION already
    # evaluates the repeated regexp once per row at runtime — the 32
    # plan copies are textual, not executed — so the extra Project
    # bought nothing and cost a codegen boundary. plans/r10's
    # d26 before/after pair remains the record of the textual diff.
    host = urls.host_of(col("url"))
    return (
        docs.select(
            "doc_id",
            "source",
            urls.registered_domain(host).alias("domain"),
            urls.public_suffix(host).alias("suffix"),
        )
        .groupBy("domain", "suffix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
        )
    )


def _oracle_d26() -> str:
    from llamadb_spark.queries.pipeline_common import (
        ORACLE_URL_SEED,
        _oracle_domain_case,
        _oracle_host_expr,
    )

    host = _oracle_host_expr("url")
    return f"""
WITH urls AS ({ORACLE_URL_SEED}),
ext AS (
  SELECT doc_id, source,
         {_oracle_domain_case(host, "domain")} AS domain,
         {_oracle_domain_case(host, "suffix")} AS suffix
  FROM urls
)
SELECT domain, suffix, count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS first_doc
FROM ext GROUP BY domain, suffix
"""


ORACLE_D26 = _oracle_d26()


# --- d27: URL canonicalization (round 10) ---------------------------

#: Deterministic noise decorating the seeded URLs so every
#: canonicalization rule actually fires on this corpus: trailing
#: slash (doc_id%7), tracking params AROUND a param that must
#: survive (%3), fragment (%5), and scheme/host case noise (%2).
_D27_NOISY_SQL = (
    "url"
    " || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)"
    " || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' ||"
    " CAST(doc_id % 7 AS {str_t}) || '&utm_campaign=x' ELSE '' END)"
    " || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ||"
    " CAST(doc_id % 4 AS {str_t}) ELSE '' END)"
)
_D27_CASE_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN"
    " upper(substring({n}, 1, 10)) || substring({n}, 11)"
    " ELSE {n} END"
)


def d27_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization URL-level exact dedup
    needs before identity comparison (one page otherwise looks like
    many URLs: tracking params, fragments, case noise, default
    ports, trailing slashes). operators/urls.canonical_url: regexp
    splits + a higher-order filter over the query params (non-
    tracking params survive IN ORDER) + array_join — all JVM-side,
    one codegen'd projection, no shuffle.

    Seeded URLs are decorated with deterministic noise so every rule
    fires (see _D27_NOISY_SQL); output is per-doc (noisy url kept
    for inspection, canonical form, changed flag) — the full-row
    hash attests each rule against the DuckDB twin.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators import urls
    from llamadb_spark.queries.pipeline_common import _docs_with_urls

    noisy = _D27_CASE_SQL.format(
        n="(" + _D27_NOISY_SQL.format(str_t="STRING") + ")"
    )
    d = _docs_with_urls(spark, sf_dir).select(
        "doc_id", F.expr(noisy).alias("url_raw")
    )
    canon = urls.canonical_url(col("url_raw"))
    return d.select(
        "doc_id",
        "url_raw",
        canon.alias("url_canonical"),
        (canon != col("url_raw")).alias("changed"),
    )


def _oracle_d27() -> str:
    from llamadb_spark.operators.urls import TRACKING_PARAM_RE
    from llamadb_spark.queries.pipeline_common import ORACLE_URL_SEED

    noisy = _D27_CASE_SQL.format(
        n="(" + _D27_NOISY_SQL.format(str_t="VARCHAR") + ")"
    )
    return f"""
WITH seed AS ({ORACLE_URL_SEED}),
raw AS (SELECT doc_id, {noisy} AS url_raw FROM seed),
parts AS (
  SELECT doc_id, url_raw,
    lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      AS scheme,
    lower(regexp_extract(url_raw,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
    regexp_replace(regexp_extract(url_raw,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
          '/+$', '') AS path,
    list_filter(string_split(regexp_extract(url_raw, '\\?([^#]*)', 1),
                             '&'),
                p -> p <> '' AND NOT regexp_matches(p,
                     '{TRACKING_PARAM_RE}')) AS kept
  FROM raw
),
canon AS (
  SELECT doc_id, url_raw,
         scheme || '://' ||
         CASE WHEN scheme = 'http'
              THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END ||
         path ||
         CASE WHEN len(kept) > 0
              THEN '?' || array_to_string(kept, '&') ELSE '' END
           AS url_canonical
  FROM parts
)
SELECT doc_id, url_raw, url_canonical,
       url_canonical <> url_raw AS changed
FROM canon
"""


ORACLE_D27 = _oracle_d27()


# --- d28: URL-level exact dedup via canonicalization (round 10) -----

def d28_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup — d01's keep-min-id shape at URL
    granularity, AFTER canonicalization (the composition d27 exists
    to serve: crawls fetch the same page under many URL spellings;
    tracking params, fragments, and case noise must collapse before
    grouping or every spelling looks unique). Page URLs here drop
    the per-doc path suffix so docs genuinely collide on their page
    (head domains collect many docs), then carry d27's deterministic
    noise so RAW spellings differ.

    Output per canonical URL: keep_id (min doc_id — the canonical
    copy), n_copies (docs sharing the page), n_variants (DISTINCT
    raw spellings the canonicalization merged — the collapse d28
    measures). One content-keyed shuffle with map-side combine;
    d01's scale shape exactly.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators import urls

    noisy = _D27_CASE_SQL.format(
        n="(" + _D27_NOISY_SQL.format(str_t="STRING") + ")"
    )
    # page URL derives ONLY from (domain, source) — unlike the d26
    # seed, where tld/subdomain vary with the per-doc hash — so docs
    # on the same page genuinely collide and the dedup has work to do
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "source")
        .withColumn(
            "_dom",
            F.expr(
                "((doc_id * 2654435761) % 1048576)"
            ),
        )
        .withColumn(
            "_dom",
            F.expr("((_dom * _dom * _dom) div 281474976710656)"),
        )
        .withColumn(
            "url",
            F.concat(
                F.lit("https://www.d"),
                col("_dom").cast("string"),
                F.lit("."),
                F.when(col("_dom") % 4 == 0, "com")
                .when(col("_dom") % 4 == 1, "org")
                .when(col("_dom") % 4 == 2, "net")
                .otherwise("co.uk"),
                F.lit("/index"),
            ),
        )
        .select("doc_id", F.expr(noisy).alias("url_raw"))
    )
    return (
        d.select(
            "doc_id",
            "url_raw",
            urls.canonical_url(col("url_raw")).alias("url_canonical"),
        )
        .groupBy("url_canonical")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("url_raw").alias("n_variants"),
        )
    )


def _oracle_d28() -> str:
    from llamadb_spark.operators.urls import TRACKING_PARAM_RE
    from llamadb_spark.queries.pipeline_common import ORACLE_URL_SEED

    noisy = _D27_CASE_SQL.format(
        n="(" + _D27_NOISY_SQL.format(str_t="VARCHAR") + ")"
    )
    return f"""
WITH dom AS (
  SELECT doc_id, source,
         ((h*h*h) // 281474976710656) AS d
  FROM (SELECT doc_id, source,
               (doc_id * 2654435761) % 1048576 AS h
        FROM documents)
),
seed AS (
  SELECT doc_id, source,
         'https://www.d' || CAST(d AS VARCHAR) || '.' ||
         CASE (d % 4) WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                      WHEN 2 THEN 'net' ELSE 'co.uk' END ||
         '/index' AS url
  FROM dom
),
raw AS (SELECT doc_id, {noisy} AS url_raw FROM seed),
parts AS (
  SELECT doc_id, url_raw,
    lower(regexp_extract(url_raw, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      AS scheme,
    lower(regexp_extract(url_raw,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
    regexp_replace(regexp_extract(url_raw,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
          '/+$', '') AS path,
    list_filter(string_split(regexp_extract(url_raw, '\\?([^#]*)', 1),
                             '&'),
                p -> p <> '' AND NOT regexp_matches(p,
                     '{TRACKING_PARAM_RE}')) AS kept
  FROM raw
),
canon AS (
  SELECT doc_id, url_raw,
         scheme || '://' ||
         CASE WHEN scheme = 'http'
              THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END ||
         path ||
         CASE WHEN len(kept) > 0
              THEN '?' || array_to_string(kept, '&') ELSE '' END
           AS url_canonical
  FROM parts
)
SELECT url_canonical, min(doc_id) AS keep_id,
       count(*) AS n_copies,
       count(DISTINCT url_raw) AS n_variants
FROM canon GROUP BY url_canonical
"""


ORACLE_D28 = _oracle_d28()
