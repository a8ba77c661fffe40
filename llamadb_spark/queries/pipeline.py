"""Training-data pipeline queries (SURVEY §2 d/s/t/m/p rows):
similarity/ANN and multimodal keys live here; the dedup (d/g), text
(t), and selection (p) families live in pipeline_dedup.py,
pipeline_text.py, and pipeline_select.py (split in round 9, VERDICT
r08 #8 — pure refactor). This module remains the single registry
(QUERIES / ORACLES) and re-exports every family name, so
``from llamadb_spark.queries.pipeline import X`` keeps working for
every name the monolith defined. DuckDB-oracled where the semantics
are SQL-expressible (minhash/simhash/hyperplane-LSH use xxhash64,
which DuckDB lacks → rows-only checks by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llamadb_spark.operators import dedup, multimodal, similarity, textops
from llamadb_spark.functions import text as text_fns
from llamadb_spark.functions.text import STOPWORDS
from llamadb_spark.session import stage

from llamadb_spark.queries.pipeline_common import (
    JACCARD_THRESHOLD,
    ORACLE_D02,
    STOP_SHINGLE_DF,
    _docs,
    _emb,
    _rebalance,
)  # noqa: F401
from llamadb_spark.queries.pipeline_text import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    HYBRID_POOL,
    HYBRID_TOPK,
    KEYWORDS_PER_DOC,
    ORACLE_T01,
    ORACLE_T02,
    ORACLE_T03,
    ORACLE_T04,
    ORACLE_T05,
    ORACLE_T06,
    ORACLE_T07,
    ORACLE_T08,
    ORACLE_T09,
    ORACLE_T10,
    ORACLE_T11,
    ORACLE_T12,
    ORACLE_T13,
    ORACLE_T14,
    ORACLE_T15,
    ORACLE_T16,
    ORACLE_T17,
    ORACLE_T19,
    ORACLE_T19_TEMPLATE,
    ORACLE_T20,
    ORACLE_T20_TEMPLATE,
    ORACLE_T21,
    ORACLE_T22,
    ORACLE_T23,
    ORACLE_T24,
    ORACLE_T25,
    ORACLE_T26,
    ORACLE_T27,
    ORACLE_T28,
    ORACLE_T29,
    ORACLE_T30,
    ORACLE_T31,
    PMI_K,
    PMI_MIN_COUNT,
    RRF_K,
    T13_SUPPORT,
    T26_LONG_DOC_BYTES,
    T26_RATIO_HI,
    T26_RATIO_LO,
    T28_BIAS_MICRO,
    T28_WEIGHTS_MICRO,
    T29_DUP5_PPM,
    T29_TOP_PPM,
    TFIDF_K,
    TFIDF_QUERY,
    ZIPF_TOP_N,
    _BEST,
    _EN,
    _HITS,
    _T28_VALUES,
    _bm25_sql,
    _oracle_t30,
    _sql_list,
    t01_langid,
    t02_quality_score,
    t03_token_count,
    t04_fingerprint,
    t05_vocab_topk,
    t06_repetition,
    t07_pii_scrub,
    t08_chunk_documents,
    t09_tfidf_rank,
    t10_token_entropy,
    t11_langid_confusion,
    t12_pmi_collocations,
    t13_heavy_hitters,
    t14_unigram_logprob,
    t15_doc_keywords,
    t16_bigram_logprob,
    t17_zipf_slope,
    t19_token_yield,
    t20_quality_deciles,
    t21_source_overlap,
    t22_source_divergence,
    t23_token_fertility,
    t24_quality_bands,
    t25_vocab_growth,
    t26_compression_ratio,
    t27_bm25_rank,
    t28_linear_quality,
    t29_gopher_repetition,
    t30_bpe_tokens,
    t31_bpe_fertility,
)  # noqa: F401
from llamadb_spark.queries.pipeline_dedup import (
    ORACLE_D26,
    ORACLE_D27,
    ORACLE_D28,
    d26_url_domains,
    d27_url_canonical,
    d28_url_dedup,
    CONTAINMENT_THRESHOLD,
    D04_HAMMING_BAND,
    D12_LSH_PLANES,
    D12_LSH_TABLES,
    D13_BATCH_SOURCE,
    D16_MIN_J,
    D18_ERR_BAND,
    D19_EXCERPT_FROM,
    D19_EXCERPT_LEN,
    D19_EXCERPT_MOD,
    D19_EXCERPT_REM,
    D19_MAX_GRAM_OCC,
    D19_MIN_LEN,
    D22_REPEAT_FROM,
    D22_REPEAT_LEN,
    D22_REPEAT_MOD,
    D22_REPEAT_REM,
    D25_LINE_W,
    EDIT_DIST_MAX,
    EMBED_NEARDUP_THRESHOLD,
    LONGRUN_N,
    ORACLE_D01,
    ORACLE_D03,
    ORACLE_D04,
    ORACLE_D05,
    ORACLE_D06,
    ORACLE_D07,
    ORACLE_D08,
    ORACLE_D09,
    ORACLE_D11,
    ORACLE_D13,
    ORACLE_D14,
    ORACLE_D15,
    ORACLE_D16,
    ORACLE_D17,
    ORACLE_D18,
    ORACLE_D19,
    ORACLE_D20,
    ORACLE_D21,
    ORACLE_D22,
    ORACLE_D23,
    ORACLE_D24,
    ORACLE_D25,
    ORACLE_G01,
    ORACLE_G01_TEMPLATE,
    ORACLE_G02,
    ORACLE_G02_TEMPLATE,
    ORACLE_G03,
    ORACLE_G03_TEMPLATE,
    _D19_CORPUS_SQL,
    _d19_corpus,
    d01_exact_dedup,
    d02_jaccard_ngram,
    d03_minhash_lsh,
    d04_simhash,
    d05_embed_neardup,
    d06_dedup_clusters,
    d07_dedup_apply,
    d08_semantic_dedup_apply,
    d09_shared_longrun,
    d10_dedup_clusters_star,
    d11_editdist_pairs,
    d12_semantic_dedup_lsh,
    d13_incremental_dedup,
    d14_containment_pairs,
    d15_cluster_sizes,
    d16_threshold_sweep,
    d17_pair_provenance,
    d18_minhash_calibration,
    d19_substring_spans,
    d20_substring_apply,
    d21_duplication_profile,
    d22_intra_doc_repeats,
    d23_intra_doc_apply,
    d24_quality_dedup_reps,
    d25_line_dedup,
    g01_pagerank,
    g02_degree_histogram,
    g03_triangle_count,
)  # noqa: F401
from llamadb_spark.queries.pipeline_select import (
    ORACLE_P20,
    P20_DOMAIN_CAP,
    p20_domain_caps,
    CONTAM_N,
    EVAL_MOD,
    MIXTURE_TARGETS,
    ORACLE_P01,
    ORACLE_P02,
    ORACLE_P03,
    ORACLE_P04,
    ORACLE_P05,
    ORACLE_P06,
    ORACLE_P07,
    ORACLE_P08,
    ORACLE_P09,
    ORACLE_P10,
    ORACLE_P11,
    ORACLE_P12,
    ORACLE_P13,
    ORACLE_P14,
    ORACLE_P15,
    ORACLE_P16,
    ORACLE_P17,
    ORACLE_P18,
    ORACLE_P19,
    P03_BUDGET,
    P11_SAMPLE_K,
    P14_N_SHARDS,
    P15_TOKEN_BUDGET,
    P16_EPOCHS,
    P17_ALPHA,
    P17_BUDGET,
    P19_N_SHARDS,
    P19_TOKEN_BUDGET,
    SAMPLE_RATES,
    _p16_case_sql,
    p01_stratified_sample,
    p02_contamination,
    p03_pack_sequences,
    p04_profile,
    p05_tombstone_delete,
    p06_dataset_split,
    p07_mixture_sample,
    p08_dq_report,
    p09_exact_k_sample,
    p10_leakproof_split,
    p11_weighted_sample,
    p12_dup_weights,
    p13_winsorize,
    p14_shard_balance,
    p15_token_budget_select,
    p16_epoch_upsample,
    p17_alpha_mixture,
    p18_span_decontaminate,
    p19_pipeline_manifest,
)  # noqa: F401


# --- similarity search ---------------------------------------------------

KNN_QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]
KNN_K = 5
def s01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.knn_bruteforce(_emb(spark, sf_dir), KNN_QUERY_IDS, k=KNN_K)
ORACLE_S01 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS q_v FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.q_v, e.v), 6) AS cos
  FROM q, e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {KNN_K}
"""
def s02_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only BY DESIGN: a banded oracle would need the exact
    # all-pairs twin inside this key's own plan, defeating the point
    # of the scale path (this is the bucketed generator that REPLACES
    # O(N^2) work at 100 TB). Precision is structural (lsh_ann_pairs
    # exact-verifies every candidate's cosine before emitting);
    # recall vs s01/d05 is asserted in tests/test_similarity.py.
    return similarity.lsh_ann_pairs(_emb(spark, sf_dir), threshold=0.4)
def _banded_recall(
    emb: DataFrame, approx: DataFrame, min_recall: float,
    min_mean_recall: float,
) -> DataFrame:
    """The banded ANN contract shared by s03/s16/s17/s18: per query,
    the EXACT top-1 neighbor and its cosine (DuckDB-recomputable via
    list_cosine_similarity, the s01 machinery) plus `recall_ok`
    (recall@k of `approx` against the exact top-k is at least
    `min_recall`) and `mean_recall_ok` (the mean over queries is at
    least `min_mean_recall`). The oracle recomputes the exact top-1 and
    claims TRUE, so the hash matches iff the index achieves both bands
    on every query."""
    from pyspark.sql.functions import col
    from pyspark.sql.window import Window

    # the exact twin feeds BOTH the recall join and the top-1
    # projection: stage its |queries|·k rows once instead of running
    # the brute-force scan twice
    exact, _ = stage(similarity.knn_bruteforce(emb, KNN_QUERY_IDS, k=KNN_K))
    hits = (
        approx.join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    top1 = exact.filter(col("rank") == 1).select(
        "query_id",
        col("neighbor_id").alias("exact_top1"),
        col("cos").alias("top1_cos"),
    )
    n_hit = F.coalesce(col("n_hit"), F.lit(0))
    return top1.join(hits, "query_id", "left").select(
        "query_id",
        "exact_top1",
        "top1_cos",
        (n_hit >= F.lit(float(min_recall)) * KNN_K).alias("recall_ok"),
        (
            F.avg(n_hit / F.lit(float(KNN_K))).over(Window.partitionBy())
            >= min_mean_recall
        ).alias("mean_recall_ok"),
    )
#: IVF recall bands the banded oracle attests. The synthetic
#: embeddings are near-isotropic (no cluster structure for the coarse
#: quantizer to exploit), so per-query recall@5 is modest by
#: construction; the index is deterministic (hash-sampled seeds,
#: fixed Lloyd passes), and the measured per-query floor at
#: sf0.001-0.01 is 0.4 with nprobe=8 — both bands hold with ≥1
#: neighbor of margin on every query.
S03_MIN_RECALL = 0.2
S03_MIN_MEAN_RECALL = 0.5
S03_NPROBE = 8
def s03_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse cells + nprobe probe) with a driver-attestable
    banded contract: per query, emit the EXACT top-1 neighbor and its
    cosine (DuckDB-recomputable via list_cosine_similarity — the s01
    machinery) plus a boolean claiming IVF recall@k ≥ S03_MIN_RECALL
    against the exact top-k computed in Spark. The oracle recomputes
    exact top-1 and claims TRUE, so the hash matches iff the index
    actually achieves the recall band on every query."""
    emb = _emb(spark, sf_dir)
    # iters=1: a single Lloyd refinement already clears the recall
    # band with 2x margin at every SF (measured min-recall 0.40 vs
    # the 0.2 band, mean 0.77-0.80 vs 0.5, sf0.001/0.01/0.1) — the
    # second pass bought no recall, only a full extra corpus pass +
    # collect (attestation-cost trim, VERDICT r06 #4)
    approx = similarity.ivf_topk(
        emb, KNN_QUERY_IDS, k=KNN_K, n_cells=16, nprobe=S03_NPROBE, iters=1
    )
    return _banded_recall(emb, approx, S03_MIN_RECALL, S03_MIN_MEAN_RECALL)
ORACLE_S03 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS q_v FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.q_v, e.v), 6) AS cos
  FROM q, e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id AS exact_top1, cos AS top1_cos,
       TRUE AS recall_ok, TRUE AS mean_recall_ok
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank = 1
"""
def s04_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_embeddings(_emb(spark, sf_dir))
ORACLE_S04 = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v, len(v) AS n_dims,
         CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') > 0
              THEN list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
              ELSE 1.0 END AS scale
  FROM e
)
SELECT vec_id, CAST(n_dims AS BIGINT) AS n_dims, scale,
       array_to_string(
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)), ',') AS q_csv
FROM s
"""
def s15_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion —
    the standard two-tower search stack in one declarative plan: a
    BM25 ranking over `documents` and an exact-cosine ranking over
    `embeddings` (query = the min-vec_id embedding; doc_id == vec_id
    is the corpus linkage at every SF) are each cut to a top-POOL
    list, then fused by RRF: score(d) = Σ 1/(K + rank_d) over the
    lists containing d, top-HYBRID_TOPK by (rounded score, id).

    Fully exact-oracled: both rankings and the fusion are
    DuckDB-recomputable; ordering uses ROUNDED scores with id
    tiebreaks on both engines so pool cutoffs can't flip on a last-
    ulp difference.

    Scale: each ranking ends in TakeOrderedAndProject (top-POOL);
    the rank windows run over the POOL-bounded lists, never the
    corpus; the fusion join is POOL x POOL rows.
    """
    from pyspark.sql.functions import broadcast, col
    from pyspark.sql.window import Window

    from llamadb_spark.operators.similarity import cosine

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)

    lex_pool = textops.bm25_topk(docs, TFIDF_QUERY, k=HYBRID_POOL)
    w_lex = Window.partitionBy().orderBy(col("bm25").desc(), col("doc_id"))
    lex = lex_pool.select(
        "doc_id", F.row_number().over(w_lex).alias("lex_rank")
    )

    qv = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    qcol = F.array(*[F.lit(x) for x in qv])
    scored = emb.select(
        col("vec_id").alias("doc_id"),
        F.round(
            cosine(col("embedding").cast("array<double>"), qcol), 6
        ).alias("cos"),
    )
    vec_pool = scored.orderBy(col("cos").desc(), col("doc_id")).limit(
        HYBRID_POOL
    )
    w_vec = Window.partitionBy().orderBy(col("cos").desc(), col("doc_id"))
    vec = vec_pool.select(
        "doc_id", F.row_number().over(w_vec).alias("vec_rank")
    )

    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).cast("long").alias("vec_rank"),
        F.round(
            F.when(
                col("lex_rank").isNotNull(),
                1.0 / (RRF_K + col("lex_rank")),
            ).otherwise(0.0)
            + F.when(
                col("vec_rank").isNotNull(),
                1.0 / (RRF_K + col("vec_rank")),
            ).otherwise(0.0),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(col("rrf").desc(), col("doc_id")).limit(HYBRID_TOPK)
ORACLE_S15 = rf"""
WITH lex_pool AS ({_bm25_sql(HYBRID_POOL)}),
lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM lex_pool
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
sc AS (SELECT vec_id AS doc_id, round(list_cosine_similarity(v, qv), 6) AS cos
       FROM e, q),
vec_pool AS (SELECT * FROM sc ORDER BY cos DESC, doc_id LIMIT {HYBRID_POOL}),
vec AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
  FROM vec_pool
),
fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         COALESCE(lex_rank, 0) AS lex_rank,
         COALESCE(vec_rank, 0) AS vec_rank,
         round(COALESCE(1.0 / ({RRF_K} + lex_rank), 0)
               + COALESCE(1.0 / ({RRF_K} + vec_rank), 0), 6) AS rrf
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOPK}
"""
def s05_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.label_centroids(_emb(spark, sf_dir))
ORACLE_S05 = """
SELECT label, CAST(i - 1 AS BIGINT) AS dim, round(avg(x), 6) AS centroid
FROM (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
GROUP BY 1, 2
"""
def s06_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix — which classes sit close
    in embedding space (label-confusion structure, cluster-merge
    candidates). Built on the dims-long centroid form: per-(label,
    dim) means self-joined on dim, grouped per label pair.

    Scale: the corpus pass is ONE map-side-combined aggregation to
    k×d rows (tiny); the pairwise cosine works entirely on that k×d
    table — a broadcast self-join on dim with k² output, independent
    of corpus size. No collect, no UDF, all codegen'd."""
    emb = _emb(spark, sf_dir)
    dims = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
        )
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
    )
    a, b = dims.alias("a"), dims.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.dim") == F.col("b.dim")) & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.round(
                F.sum(F.col("a.m") * F.col("b.m"))
                / (
                    F.sqrt(F.sum(F.col("a.m") * F.col("a.m")))
                    * F.sqrt(F.sum(F.col("b.m") * F.col("b.m")))
                ),
                6,
            ).alias("cos")
        )
        .orderBy("label_a", "label_b")
    )
ORACLE_S06 = """
WITH dims AS (
  SELECT label, dim, avg(x) AS m
  FROM (SELECT label,
               unnest(CAST(embedding AS DOUBLE[])) AS x,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings)
  GROUP BY label, dim
)
SELECT a.label AS label_a, b.label AS label_b,
       round(sum(a.m * b.m)
             / (sqrt(sum(a.m * a.m)) * sqrt(sum(b.m * b.m))), 6) AS cos
FROM dims a JOIN dims b ON a.dim = b.dim AND a.label < b.label
GROUP BY a.label, b.label
ORDER BY label_a, label_b
"""
def s07_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification accuracy per label
    (operators/similarity.py centroid_classify)."""
    return similarity.centroid_classify(_emb(spark, sf_dir))
ORACLE_S07 = """
WITH v AS (
  SELECT vec_id AS _id, label AS _true,
         generate_subscripts(embedding, 1) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
dims AS (
  SELECT _cand, dim, avg(m) AS m
  FROM (SELECT label AS _cand,
               generate_subscripts(embedding, 1) AS dim,
               unnest(CAST(embedding AS DOUBLE[])) AS m
        FROM embeddings)
  GROUP BY _cand, dim
),
scored AS (
  SELECT v._id, v._true, d._cand,
         sum(v.x * d.m) AS dot,
         sqrt(sum(v.x * v.x)) AS nv
  FROM v JOIN dims d ON v.dim = d.dim
  GROUP BY v._id, v._true, d._cand
),
cnorm AS (
  SELECT _cand, sqrt(sum(m * m)) AS nc FROM dims GROUP BY _cand
),
cos AS (
  SELECT s._id, s._true, s._cand,
         round(s.dot / (s.nv * c.nc), 6) AS cos
  FROM scored s JOIN cnorm c ON s._cand = c._cand
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY _id
                                 ORDER BY cos DESC, _cand) AS rk
    FROM cos
  ) WHERE rk = 1
)
SELECT _true AS label,
       count(*) AS n_vecs,
       CAST(sum(CASE WHEN _cand = _true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN _cand = _true THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM best GROUP BY _true
"""
# --- multimodal ----------------------------------------------------------

def m01_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = multimodal.media_metadata(_docs(spark, sf_dir))
    return df.withColumn("n_bytes", df["n_bytes"].cast("long"))
ORACLE_M01 = """
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
"""
def m02_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full media pipeline: envelope → Arrow-batched decode stub →
    declarative aspect-fit resize. The stub derives dims from the
    payload sha256, which DuckDB can replicate — so even the UDF
    stage gets a value-match oracle."""
    env = multimodal.attach_payload(_docs(spark, sf_dir))
    decoded = multimodal.decode_media(env)
    return multimodal.resize_media(decoded, target=224).select(
        "doc_id", "width", "height", "out_w", "out_h", "sha_prefix"
    )
ORACLE_M02 = """
WITH d AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(sha256(text), 1, 4)) AS INT)
              % 1920 + 1 AS INT) AS width,
         CAST(CAST(concat('0x', substr(sha256(text), 5, 4)) AS INT)
              % 1080 + 1 AS INT) AS height,
         substr(sha256(text), 1, 16) AS sha_prefix
  FROM documents
)
SELECT doc_id, width, height,
       CAST(greatest(floor(width * least(224.0 / width, 224.0 / height)), 1)
            AS INT) AS out_w,
       CAST(greatest(floor(height * least(224.0 / width, 224.0 / height)), 1)
            AS INT) AS out_h,
       sha_prefix
FROM d
"""
def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over the media envelope
    (operators/multimodal.py sample_frames)."""
    return multimodal.sample_frames(_docs(spark, sf_dir))
ORACLE_M03 = """
WITH env AS (
  SELECT doc_id, sha256(text) AS content_sha,
         CAST(CAST(concat('0x', substr(sha256(text), 9, 3)) AS INT)
              % 120 + 1 AS INT) AS duration_s
  FROM documents
),
frames AS (
  SELECT doc_id, content_sha, duration_s,
         CAST(least(duration_s, 16) AS INT) AS n_frames,
         unnest(generate_series(0, least(duration_s, 16) - 1)) AS frame_idx
  FROM env
)
SELECT doc_id, duration_s, n_frames,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS frame_ts_ms,
       sha256(content_sha || ':' || CAST(frame_idx AS VARCHAR)) AS frame_sha
FROM frames
"""
CHUNK_BYTES = 512
def m05_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup over raw payload bytes
    (multimodal.dedup_media). The envelope payload IS the UTF-8 text
    bytes, so DuckDB's sha256(text) digests the same bytes and the
    check is a full hash-match without a blob-hash function."""
    env = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.dedup_media(env)
ORACLE_M05 = """
SELECT sha256(text) AS payload_sha,
       min(doc_id) AS keep_id,
       count(*) AS n_copies,
       CAST(min(octet_length(encode(text))) AS INT) AS n_bytes
FROM documents
GROUP BY sha256(text)
"""
def m04_payload_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window binary chunking (operators/multimodal.py
    chunk_payload). DuckDB has no blob slicing, so the oracle checks
    the framing — every (doc, chunk_idx, chunk_len) — arithmetically;
    chunk CONTENT (sha + exact reconstruction) is byte-asserted in
    tests/test_multimodal.py."""
    env = multimodal.attach_payload(_docs(spark, sf_dir))
    return multimodal.chunk_payload(env, chunk_bytes=CHUNK_BYTES).select(
        "doc_id", "chunk_idx", "chunk_len"
    )
ORACLE_M04 = f"""
WITH env AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
),
idx AS (
  SELECT doc_id, n_bytes,
         unnest(generate_series(0,
             CAST(ceil(n_bytes / {CHUNK_BYTES}.0) AS BIGINT) - 1)) AS chunk_idx
  FROM env WHERE n_bytes > 0
)
SELECT doc_id, chunk_idx,
       least(CAST({CHUNK_BYTES} AS BIGINT),
             n_bytes - chunk_idx * {CHUNK_BYTES}) AS chunk_len
FROM idx
"""
RERANK_COARSE_MULT = 4
def s11_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: int8 coarse scoring → exact cosine
    re-rank of k·4 candidates (see similarity.rerank_knn)."""
    return similarity.rerank_knn(
        _emb(spark, sf_dir),
        KNN_QUERY_IDS,
        k=KNN_K,
        coarse_mult=RERANK_COARSE_MULT,
    )
ORACLE_S11 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
quant AS (
  SELECT vec_id, v,
         CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') > 0
              THEN list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
              ELSE 1.0 END AS scale,
         list_transform(v, x ->
           CAST(floor(x / (CASE WHEN list_aggregate(list_transform(v, y -> abs(y)), 'max') > 0
                                THEN list_aggregate(list_transform(v, y -> abs(y)), 'max') / 127.0
                                ELSE 1.0 END) + 0.5) AS DOUBLE)) AS q
  FROM e
),
queries AS (
  SELECT vec_id AS query_id, v AS q_v, scale AS q_scale, q AS q_q
  FROM quant WHERE vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})
),
coarse AS (
  SELECT qs.query_id, c.vec_id, c.v, qs.q_v,
         c.scale * qs.q_scale * list_dot_product(c.q, qs.q_q) AS approx,
         row_number() OVER (
             PARTITION BY qs.query_id
             ORDER BY c.scale * qs.q_scale * list_dot_product(c.q, qs.q_q) DESC,
                      c.vec_id) AS crk
  FROM quant c, queries qs
  WHERE c.vec_id <> qs.query_id
),
exact AS (
  SELECT query_id, vec_id AS neighbor_id,
         round(list_cosine_similarity(v, q_v), 6) AS cos
  FROM coarse WHERE crk <= {KNN_K} * {RERANK_COARSE_MULT}
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM exact
) WHERE rank <= {KNN_K}
"""
def s08_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embed_dim_stats(_emb(spark, sf_dir))
ORACLE_S08 = """
WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (
  SELECT CAST(k - 1 AS BIGINT) AS dim, v[k] AS x
  FROM (SELECT v, unnest(generate_series(1, len(v))) AS k FROM e)
)
SELECT dim, round(avg(x), 6) AS mean, round(var_pop(x), 6) AS var,
       round(min(x), 6) AS lo, round(max(x), 6) AS hi
FROM x GROUP BY dim
"""
#: s09 bands: a k=8 orthonormal projection can only contract norms,
#: and on these near-isotropic embeddings the top-8 components carry
#: well above an isotropic share of the variance. Both measured with
#: wide margin at sf0.001-0.1; eigensolves are deterministic for
#: fixed data.
S09_K = 8
S09_MIN_EXPLAINED = 0.2
def s09_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection with a driver-attestable banded contract: one
    row per vector with the exact-computable original norm (DuckDB
    recomputes it from the embedding list) plus the projection
    invariants as booleans — the projected norm never exceeds the
    original (orthonormal basis = contraction), the output has
    exactly k components, and the k-dim subspace explains at least
    S09_MIN_EXPLAINED of total variance (corpus-level boolean,
    computed without a global window). Eigenvector SIGN is
    implementation-defined, so raw coordinates are not oracle
    material; norms are sign-invariant. Raw projections stay
    available via operators/similarity.pca_project."""
    from pyspark.sql.functions import broadcast, col

    emb = _emb(spark, sf_dir)
    proj = similarity.pca_project(emb, k=S09_K)
    sq = lambda c: F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)
    both = proj.join(
        emb.select(
            "vec_id", col("embedding").cast("array<double>").alias("_v")
        ),
        "vec_id",
    ).select(
        "vec_id",
        sq(col("_v")).alias("_on2"),
        sq(col("pc")).alias("_pn2"),
        F.size("pc").alias("_k"),
    )
    tot = both.agg(
        F.sum("_pn2").alias("_tp"), F.sum("_on2").alias("_to")
    )
    return both.alias("b").crossJoin(broadcast(tot.alias("t"))).select(
        col("b.vec_id").alias("vec_id"),
        F.round(F.sqrt(col("b._on2")), 6).alias("orig_norm"),
        (F.sqrt(col("b._pn2")) <= F.sqrt(col("b._on2")) + 1e-9).alias(
            "proj_contracts"
        ),
        (col("b._k") == S09_K).alias("k_dims_ok"),
        (col("t._tp") >= S09_MIN_EXPLAINED * col("t._to")).alias(
            "explained_ok"
        ),
    )
ORACLE_S09 = """
SELECT vec_id,
       round(sqrt(list_aggregate(
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6)
         AS orig_norm,
       TRUE AS proj_contracts,
       TRUE AS k_dims_ok,
       TRUE AS explained_ok
FROM embeddings
"""
S10_K = 10
def _mean_pairwise_cos(picks: DataFrame, emb: DataFrame) -> DataFrame:
    """1-row frame: mean pairwise cosine among the k picked vectors.
    Both sides of the pair join are k-bounded (k(k-1)/2 pairs), so
    they are broadcast — the non-equi pair join becomes a shuffle-
    free BroadcastNestedLoop over k rows instead of inheriting the
    session's shuffle partitioning."""
    from pyspark.sql.functions import broadcast, col

    from llamadb_spark.operators.similarity import cosine

    v = emb.select("vec_id", col("embedding").cast("array<double>").alias("v"))
    pv = v.join(broadcast(picks.select("vec_id")), "vec_id")
    a = pv.select(col("vec_id").alias("ia"), col("v").alias("va"))
    b = pv.select(col("vec_id").alias("ib"), col("v").alias("vb"))
    return (
        a.join(broadcast(b), col("ia") < col("ib"))
        .select(cosine(col("va"), col("vb")).alias("c"))
        .agg(F.avg("c").alias("mean_cos"))
    )
def s10_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking with a driver-attestable contract: a single
    summary row whose exact columns the oracle recomputes — the first
    MMR pick is by construction the pure-relevance argmax (exact
    top-1 by cosine to the query, ties to the lower vec_id) with its
    relevance — plus booleans attesting k picks were produced and the
    DIVERSITY property that justifies MMR: mean pairwise cosine among
    the MMR picks does not exceed that of the plain relevance top-k.
    The greedy loop itself stays available via
    operators/similarity.mmr_rerank (property tests in
    tests/test_similarity.py)."""
    from pyspark.sql.functions import broadcast, col

    emb = _emb(spark, sf_dir)
    # orderBy before limit: LIMIT without ORDER BY is not stable
    # across partition layouts, which would break the operator's
    # determinism contract.
    qv = [
        float(x)
        for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]
    ]
    mmr = similarity.mmr_rerank(emb, qv, k=S10_K, pool=100, lam=0.7)
    # plain relevance top-k (query vector included, like MMR's pool)
    from llamadb_spark.operators.similarity import cosine

    qcol = F.array(*[F.lit(float(x)) for x in qv])
    scored = emb.select(
        "vec_id",
        cosine(col("embedding").cast("array<double>"), qcol).alias("rel"),
    )
    topk = scored.orderBy(col("rel").desc(), "vec_id").limit(S10_K)
    mmr_div = _mean_pairwise_cos(mmr.select("vec_id"), emb)
    plain_div = _mean_pairwise_cos(topk.select("vec_id"), emb)
    first = mmr.orderBy("mmr_rank").limit(1).select(
        col("vec_id").alias("top_pick_id"),
        F.round("relevance", 6).alias("top_relevance"),
    )
    n = mmr.agg(F.count(F.lit(1)).alias("_n"))
    return (
        first.crossJoin(broadcast(n))
        .crossJoin(broadcast(mmr_div.select(col("mean_cos").alias("_md"))))
        .crossJoin(broadcast(plain_div.select(col("mean_cos").alias("_pd"))))
        .select(
            "top_pick_id",
            "top_relevance",
            col("_n").cast("long").alias("k_picked"),
            (col("_md") <= col("_pd") + 1e-9).alias("diversity_ok"),
        )
    )
ORACLE_S10 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
sc AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS rel
       FROM e, q)
SELECT vec_id AS top_pick_id, rel AS top_relevance,
       CAST({S10_K} AS BIGINT) AS k_picked, TRUE AS diversity_ok
FROM sc ORDER BY rel DESC, vec_id LIMIT 1
"""
def m06_media_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-gated media curation: decode (Arrow stub, dims
    sha-derived so DuckDB replicates them — the m02 oracle trick) →
    keep payloads with aspect ratio in [0.5, 2.0] and short side
    ≥ 256 px (the standard vision-pretraining gate) → bucket the
    survivors by megapixels and report counts + mean aspect.

    Scale: the filter runs on decoded METADATA only (12 bytes/row
    through the shuffle, payloads never leave the scan), and the
    aggregation is a 3-group map-side-combined rollup — the shape of
    a real corpus-curation pass over billions of images.
    """
    env = multimodal.attach_payload(_docs(spark, sf_dir))
    decoded = multimodal.decode_media(env)
    aspect = F.col("width") / F.col("height")
    mp = F.col("width") * F.col("height") / F.lit(1_000_000.0)
    kept = decoded.filter(
        (aspect >= 0.5)
        & (aspect <= 2.0)
        & (F.least("width", "height") >= 256)
    )
    bucket = (
        F.when(mp < 0.3, "small")
        .when(mp < 1.0, "medium")
        .otherwise("large")
    )
    return kept.groupBy(bucket.alias("mp_bucket")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.avg(aspect), 6).alias("avg_aspect"),
        F.round(F.sum(mp), 4).alias("total_mp"),
    )
ORACLE_M06 = """
WITH d AS (
  SELECT CAST(CAST(concat('0x', substr(sha256(text), 1, 4)) AS INT)
              % 1920 + 1 AS INT) AS width,
         CAST(CAST(concat('0x', substr(sha256(text), 5, 4)) AS INT)
              % 1080 + 1 AS INT) AS height
  FROM documents
),
kept AS (
  SELECT width, height,
         CAST(width AS DOUBLE) / height AS aspect,
         width * height / 1000000.0 AS mp
  FROM d
  WHERE CAST(width AS DOUBLE) / height BETWEEN 0.5 AND 2.0
    AND least(width, height) >= 256
)
SELECT CASE WHEN mp < 0.3 THEN 'small'
            WHEN mp < 1.0 THEN 'medium'
            ELSE 'large' END AS mp_bucket,
       count(*) AS n_items,
       round(avg(aspect), 6) AS avg_aspect,
       round(sum(mp), 4) AS total_mp
FROM kept
GROUP BY 1
"""
#: m07: media items acting as cross-modal queries (caller-bounded —
#: the broadcast-side contract of crossmodal_knn).
M07_QUERY_DOCS = [0, 1, 2, 3, 4]
M07_K = 5
def m07_crossmodal_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval plumbing: stub-embed a bounded set of
    media payloads into the text-embedding space (CLIP-image-tower
    stand-in — deterministic sha-chain features, unit norm) and
    retrieve each one's top-5 cosine neighbors from the embeddings
    corpus. rows-only: the stub features have no SQL twin;
    determinism/unit-norm/row-count invariants live in
    tests/test_multimodal.py.

    Scale order matters: the query FILTER runs before the Arrow
    embed stage, so only |query_ids| payloads ever cross to Python;
    the corpus streams once against the broadcast query vectors and
    the only shuffle is the k·|queries|-row top-k window.
    """
    from pyspark.sql.functions import col

    media = multimodal.attach_payload(_docs(spark, sf_dir)).filter(
        col("doc_id").isin(M07_QUERY_DOCS)
    )
    vecs = multimodal.embed_media_stub(media)
    out = multimodal.crossmodal_knn(
        vecs, _emb(spark, sf_dir), M07_QUERY_DOCS, k=M07_K
    )
    # driver-attestable banded contract: per media query, the oracle
    # recomputes the exact columns (query id, k neighbors returned)
    # and claims the cosine-validity band; the stub features
    # themselves have no SQL twin (determinism/unit-norm invariants
    # in tests/test_multimodal.py), so the attestation covers the
    # retrieval plumbing: every query produced exactly k DISTINCT
    # corpus neighbors with cosines in [-1, 1].
    return out.groupBy(col("media_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        (F.count_distinct(col("neighbor_id")) == M07_K).alias(
            "neighbors_distinct"
        ),
        ((F.min("cos") >= -1.0) & (F.max("cos") <= 1.0)).alias(
            "cos_bounded"
        ),
    )
ORACLE_M07 = f"""
SELECT doc_id AS media_id,
       CAST({M07_K} AS BIGINT) AS n_neighbors,
       TRUE AS neighbors_distinct,
       TRUE AS cos_bounded
FROM documents
WHERE doc_id IN ({", ".join(str(i) for i in M07_QUERY_DOCS)})
"""
def s13_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: nearest neighbors restricted to the
    query's OWN label (metadata pre-filter + ANN — "similar items in
    the same category", the retrieval shape recommendation and RAG
    systems actually serve). The filter applies BEFORE scoring, so
    the result is exact within the filtered corpus — not a post-hoc
    filter of top-k from everywhere, which under-fills k for rare
    labels.

    Scale: the label equi-join IS the pre-filter (queries are a
    broadcast-size set; each scores only its label's partition of
    the corpus) — a selective filter shrinks compute proportionally,
    the property a post-filter ANN lacks.
    """
    from pyspark.sql.functions import col
    from pyspark.sql.window import Window

    from llamadb_spark.functions.vector import as_double, cosine

    emb = _emb(spark, sf_dir)
    q = emb.filter(col("vec_id").isin(KNN_QUERY_IDS)).select(
        col("vec_id").alias("query_id"),
        as_double(col("embedding")).alias("q_v"),
        col("label").alias("q_label"),
    )
    c = emb.select(
        col("vec_id").alias("neighbor_id"),
        as_double(col("embedding")).alias("c_v"),
        col("label").alias("c_label"),
    )
    scored = (
        F.broadcast(q)
        .join(c, col("q_label") == col("c_label"))
        .filter(col("neighbor_id") != col("query_id"))
        .withColumn("cos", F.round(cosine(col("q_v"), col("c_v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        col("cos").desc(), col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= KNN_K)
        .select("query_id", col("q_label").alias("label"), "neighbor_id", "cos", "rank")
    )
ORACLE_S13 = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, label, v AS q_v FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})),
scored AS (
  SELECT q.query_id, q.label, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.q_v, e.v), 6) AS cos
  FROM q JOIN e ON e.label = q.label AND e.vec_id <> q.query_id
)
SELECT query_id, label, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= {KNN_K}
"""
def s14_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette per label: for each vector, a = euclidean
    distance to its OWN label centroid, b = distance to the nearest
    OTHER centroid, silhouette = (b−a)/max(a,b) — the standard "are
    these classes actually separated in embedding space" score
    (negative mean ⇒ the label's members sit closer to another
    class's prototype than their own: a labeling or embedding
    problem). The centroid form is the O(N·k) approximation of full
    silhouette's O(N²) pairwise distances — the only version that
    scales.

    Determinism: centroids are rounded to 6dp in BOTH engines before
    any distance (the s05 contract), and per-vector silhouettes sum
    as integer micro-units (the d16 rule) so partition order can't
    flip the mean.

    Scale: one k-row broadcast (the packed centroid table) against
    the corpus → N·k distance rows → per-label aggregate.
    """
    from pyspark.sql.functions import broadcast, col

    emb = _emb(spark, sf_dir)
    cents = (
        similarity.label_centroids(emb)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("cv")
        )
        .select(col("label").alias("c_label"), "cv")
    )
    v = emb.select(
        "vec_id", "label",
        F.transform(col("embedding"), lambda x: x.cast("double")).alias("ev"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(col("ev"), col("cv"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    dists = v.crossJoin(broadcast(cents)).select(
        "vec_id", "label", "c_label", dist.alias("d")
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(F.when(col("c_label") == col("label"), col("d"))).alias("a"),
        F.min(F.when(col("c_label") != col("label"), col("d"))).alias("b"),
    )
    sil_micro = F.round(
        1_000_000.0 * (col("b") - col("a")) / F.greatest("a", "b")
    ).cast("bigint")
    return ab.select("label", sil_micro.alias("sm")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("sm") / 1_000_000.0 / F.count(F.lit(1)), 4).alias(
            "mean_silhouette"
        ),
    )
ORACLE_S14 = """
WITH cent AS (
  SELECT label, CAST(i - 1 AS BIGINT) AS dim, round(avg(x), 6) AS c
  FROM (
    SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  )
  GROUP BY 1, 2
),
cent_arr AS (
  SELECT label AS c_label, list(c ORDER BY dim) AS cv FROM cent GROUP BY label
),
v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
dists AS (
  SELECT v.vec_id, v.label, c.c_label, list_distance(v.ev, c.cv) AS d
  FROM v CROSS JOIN cent_arr c
),
ab AS (
  SELECT vec_id, label,
         min(CASE WHEN c_label = label THEN d END) AS a,
         min(CASE WHEN c_label <> label THEN d END) AS b
  FROM dists GROUP BY 1, 2
),
sil AS (
  SELECT label,
         CAST(round(1000000.0 * (b - a) / greatest(a, b)) AS BIGINT) AS sm
  FROM ab
)
SELECT label, count(*) AS n_vecs,
       round(sum(sm) / 1000000.0 / count(*), 4) AS mean_silhouette
FROM sil GROUP BY label
"""
#: s12 occupancy bands: uniform share is 1/16 = 0.0625; measured
#: shares at sf0.001-0.1 stay within [0.04, 0.09]. The k-means
#: assignment is deterministic (hash-sampled seeds, fixed Lloyd
#: passes), so the bands are stable at a given SF.
S12_N_CELLS = 16
S12_MAX_SHARE = 0.15
S12_MIN_SHARE = 0.02
def s12_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy balance with a driver-attestable banded
    contract: a single summary row with exact-computable columns (all
    S12_N_CELLS cells non-empty; total points = corpus size — mass
    conservation the oracle recomputes via count(*)) plus booleans
    attesting every cell's share sits inside the balance band (the
    property that makes nprobe/n_cells a meaningful cost model). Raw
    per-cell sizes stay available via
    operators/similarity.ivf_cluster_sizes."""
    from pyspark.sql.functions import col

    cs = similarity.ivf_cluster_sizes(_emb(spark, sf_dir), n_cells=S12_N_CELLS)
    return cs.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n_vecs").cast("long").alias("n_points"),
        (F.max("share") <= S12_MAX_SHARE).alias("max_share_ok"),
        (F.min("share") >= S12_MIN_SHARE).alias("min_share_ok"),
    )
ORACLE_S12 = f"""
SELECT CAST({S12_N_CELLS} AS BIGINT) AS n_cells,
       count(*) AS n_points,
       TRUE AS max_share_ok,
       TRUE AS min_share_ok
FROM embeddings
"""
#: s16 PQ bands: measured PQ+rerank recall@5 is 0.90/0.97/0.90 mean
#: and 0.60/0.80/0.80 min at sf0.001/0.01/0.1 (m=16 subspaces, 32
#: codes, shortlist 50, deterministic xxhash64 seeds) — the 0.2/0.5
#: bands leave 3x/1.8x margin.
S16_MIN_RECALL = 0.2
S16_MIN_MEAN_RECALL = 0.5
def s16_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with the s03
    banded contract: PQ-ADC shortlist → exact rerank; output per
    query = exact top-1 neighbor + cosine (DuckDB-recomputable, the
    s01 machinery) + booleans claiming per-query and mean recall@k of
    the PQ path against the exact top-k. The codes are m=16 small
    ints per vector — the 16x index-size reduction that makes
    billion-vector search storable; the oracle recomputes the exact
    side and claims TRUE."""
    emb = _emb(spark, sf_dir)
    # iters=1 (same move as s03): the second Lloyd pass buys no
    # recall vs the bands — measured with iters=1: mean 0.83-0.95,
    # min 0.60-0.80 across sf0.001/0.01/0.1, still 3x above the
    # 0.2/0.5 bands — and costs a full corpus pass + collect
    approx = similarity.pq_rerank_topk(emb, KNN_QUERY_IDS, k=KNN_K, iters=1)
    return _banded_recall(emb, approx, S16_MIN_RECALL, S16_MIN_MEAN_RECALL)
ORACLE_S16 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS q_v FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in KNN_QUERY_IDS)})),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.q_v, e.v), 6) AS cos
  FROM q, e WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id AS exact_top1, cos AS top1_cos,
       TRUE AS recall_ok, TRUE AS mean_recall_ok
FROM ranked WHERE rnk = 1
"""
#: s17 IVF-PQ bands: measured recall@5 at (cells=16, nprobe=8, m=16,
#: codes=32, shortlist=200, iters=1) is mean 0.775-0.800 / min 0.40
#: across sf0.001/0.01/0.1 — IDENTICAL to s03's IVF-exact recall at
#: the same nprobe (measured side by side): the PQ shortlist + exact
#: rerank loses nothing within the probed cells. Same 0.2/0.5 bands
#: as s03, leaving 2x / 1.55x margin.
S17_MIN_RECALL = 0.2
S17_MIN_MEAN_RECALL = 0.5
S17_NPROBE = 8
S17_SHORTLIST = 200
def s17_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (VERDICT r07 #6 — the production 100 TB shape,
    bucketed AND compressed): s03's coarse cells bound candidates to
    nprobe/K of the corpus, s16's PQ-ADC scores only those candidates
    from m-int codes, exact rerank of the shortlist. Banded contract
    like s03/s16: exact top-1 + cosine (DuckDB-recomputable) plus
    recall-band booleans the oracle claims TRUE. Measured: recall
    equals s03's at matched probe cost (see band constants)."""
    emb = _emb(spark, sf_dir)
    approx = similarity.ivfpq_topk(
        emb, KNN_QUERY_IDS, k=KNN_K,
        shortlist=S17_SHORTLIST, n_cells=16, nprobe=S17_NPROBE, iters=1,
    )
    return _banded_recall(emb, approx, S17_MIN_RECALL, S17_MIN_MEAN_RECALL)
ORACLE_S17 = ORACLE_S16
#: s18: same bands as s17 — the persisted index stores the SAME
#: model the in-memory path trains (deterministic trainers), so the
#: measured recall is identical by construction (pinned by
#: test_persisted_ivfpq_index_train_once_query_many: persisted-query
#: results == in-memory ivfpq_topk results exactly).
S18_MIN_RECALL = S17_MIN_RECALL
S18_MIN_MEAN_RECALL = S17_MIN_MEAN_RECALL
def s18_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index ANN query — the train-once/query-many
    DEPLOYMENT shape, driver-attested (VERDICT r09 #3: #286/#287
    landed the versioned index store but only pytest ever exercised
    it). First run per (warehouse, sf) builds the IVF-PQ index into
    the warehouse (bounded trainer collects + one Arrow encode pass,
    the s17 machinery); EVERY subsequent run resolves the manifest
    and queries train-free — no k-means, no corpus encode, no Arrow
    stage in the query plan (pinned by the train-once pytest). A
    params mismatch (e.g. after a config change) rebuilds a fresh
    immutable version rather than mis-scoring against stale codes.

    Contract: s17's banded shape — exact top-1 + cosine (DuckDB
    recomputes) plus per-query/mean recall-band booleans the oracle
    claims TRUE. Corpus refresh policy: params-change -> rebuild;
    new-vector drops -> append_ivfpq_index (frozen codebooks);
    distribution drift -> rebuild, by the owning pipeline.
    """
    import os

    from llamadb_spark.operators import ann_index

    emb = _emb(spark, sf_dir)
    kw = dict(
        n_cells=16, n_subspaces=16, n_codes=32, iters=1, residual=False
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(warehouse, f"ivfpq_index_{sf_name}")
    try:
        stored, _c, _b = ann_index.load_ivfpq_model(spark, path)
        if any(stored.get(k_) != v_ for k_, v_ in kw.items()):
            ann_index.build_ivfpq_index(emb, path, **kw)
    except FileNotFoundError:
        ann_index.build_ivfpq_index(emb, path, **kw)
    approx = ann_index.ivfpq_query_index(
        spark, path, emb, KNN_QUERY_IDS, k=KNN_K,
        shortlist=S17_SHORTLIST, nprobe=S17_NPROBE, expect=kw,
    )
    return _banded_recall(emb, approx, S18_MIN_RECALL, S18_MIN_MEAN_RECALL)
ORACLE_S18 = ORACLE_S17
QUERIES = {
    "d01_exact_dedup": d01_exact_dedup,
    "d02_jaccard_ngram": d02_jaccard_ngram,
    "d03_minhash_lsh": d03_minhash_lsh,
    "d06_dedup_clusters": d06_dedup_clusters,
    "d07_dedup_apply": d07_dedup_apply,
    "d04_simhash": d04_simhash,
    "d05_embed_neardup": d05_embed_neardup,
    "s01_knn_bruteforce": s01_knn_bruteforce,
    "s02_lsh_ann": s02_lsh_ann,
    "s03_ivf_ann": s03_ivf_ann,
    "t01_langid": t01_langid,
    "t02_quality_score": t02_quality_score,
    "t03_token_count": t03_token_count,
    "t04_fingerprint": t04_fingerprint,
    "t05_vocab_topk": t05_vocab_topk,
    "t06_repetition": t06_repetition,
    "m01_multimodal_meta": m01_multimodal_meta,
    "m02_decode_resize": m02_decode_resize,
    "t07_pii_scrub": t07_pii_scrub,
    "t08_chunk_documents": t08_chunk_documents,
    "p01_stratified_sample": p01_stratified_sample,
    "p02_contamination": p02_contamination,
    "p03_pack_sequences": p03_pack_sequences,
    "s04_embed_quantize": s04_embed_quantize,
    "t09_tfidf_rank": t09_tfidf_rank,
    "s05_label_centroids": s05_label_centroids,
    "p04_profile": p04_profile,
    "t10_token_entropy": t10_token_entropy,
    "s06_centroid_sim": s06_centroid_sim,
    "p05_tombstone_delete": p05_tombstone_delete,
    "t11_langid_confusion": t11_langid_confusion,
    "t12_pmi_collocations": t12_pmi_collocations,
    "t13_heavy_hitters": t13_heavy_hitters,
    "t27_bm25_rank": t27_bm25_rank,
    "s15_hybrid_rrf": s15_hybrid_rrf,
    "t14_unigram_logprob": t14_unigram_logprob,
    "t15_doc_keywords": t15_doc_keywords,
    "t16_bigram_logprob": t16_bigram_logprob,
    "t17_zipf_slope": t17_zipf_slope,
    "s11_rerank_ann": s11_rerank_ann,
    "s07_centroid_classify": s07_centroid_classify,
    "s08_embed_dim_stats": s08_embed_dim_stats,
    "s09_pca_project": s09_pca_project,
    "s10_mmr_rerank": s10_mmr_rerank,
    "p06_dataset_split": p06_dataset_split,
    "p07_mixture_sample": p07_mixture_sample,
    "p08_dq_report": p08_dq_report,
    "p09_exact_k_sample": p09_exact_k_sample,
    "p11_weighted_sample": p11_weighted_sample,
    "p10_leakproof_split": p10_leakproof_split,
    "m03_frame_sample": m03_frame_sample,
    "m04_payload_chunks": m04_payload_chunks,
    "m05_media_dedup": m05_media_dedup,
    "d08_semantic_dedup_apply": d08_semantic_dedup_apply,
    "d12_semantic_dedup_lsh": d12_semantic_dedup_lsh,
    "d13_incremental_dedup": d13_incremental_dedup,
    "d14_containment_pairs": d14_containment_pairs,
    "g01_pagerank": g01_pagerank,
    "g02_degree_histogram": g02_degree_histogram,
    "t19_token_yield": t19_token_yield,
    "t20_quality_deciles": t20_quality_deciles,
    "d09_shared_longrun": d09_shared_longrun,
    "d10_dedup_clusters_star": d10_dedup_clusters_star,
    "d11_editdist_pairs": d11_editdist_pairs,
    "m06_media_filter": m06_media_filter,
    "m07_crossmodal_knn": m07_crossmodal_knn,
    "p12_dup_weights": p12_dup_weights,
    "t21_source_overlap": t21_source_overlap,
    "t22_source_divergence": t22_source_divergence,
    "p13_winsorize": p13_winsorize,
    "t23_token_fertility": t23_token_fertility,
    "d15_cluster_sizes": d15_cluster_sizes,
    "g03_triangle_count": g03_triangle_count,
    "p14_shard_balance": p14_shard_balance,
    "p15_token_budget_select": p15_token_budget_select,
    "p16_epoch_upsample": p16_epoch_upsample,
    "p17_alpha_mixture": p17_alpha_mixture,
    "s13_filtered_knn": s13_filtered_knn,
    "d16_threshold_sweep": d16_threshold_sweep,
    "t24_quality_bands": t24_quality_bands,
    "s14_silhouette": s14_silhouette,
    "t25_vocab_growth": t25_vocab_growth,
    "t26_compression_ratio": t26_compression_ratio,
    "d17_pair_provenance": d17_pair_provenance,
    "d18_minhash_calibration": d18_minhash_calibration,
    "d19_substring_spans": d19_substring_spans,
    "d20_substring_apply": d20_substring_apply,
    "t28_linear_quality": t28_linear_quality,
    "t29_gopher_repetition": t29_gopher_repetition,
    "t30_bpe_tokens": t30_bpe_tokens,
    "t31_bpe_fertility": t31_bpe_fertility,
    "d21_duplication_profile": d21_duplication_profile,
    "d22_intra_doc_repeats": d22_intra_doc_repeats,
    "d23_intra_doc_apply": d23_intra_doc_apply,
    "d24_quality_dedup_reps": d24_quality_dedup_reps,
    "d25_line_dedup": d25_line_dedup,
    "d26_url_domains": d26_url_domains,
    "d27_url_canonical": d27_url_canonical,
    "d28_url_dedup": d28_url_dedup,
    "p18_span_decontaminate": p18_span_decontaminate,
    "s16_pq_ann": s16_pq_ann,
    "s17_ivfpq_ann": s17_ivfpq_ann,
    "s18_index_query": s18_index_query,
    "s12_cluster_balance": s12_cluster_balance,
    "p19_pipeline_manifest": p19_pipeline_manifest,
    "p20_domain_caps": p20_domain_caps,
}
ORACLES = {
    "d01_exact_dedup": ORACLE_D01,
    "d02_jaccard_ngram": ORACLE_D02,
    "d05_embed_neardup": ORACLE_D05,
    "d06_dedup_clusters": ORACLE_D06,
    "d13_incremental_dedup": ORACLE_D13,
    "d14_containment_pairs": ORACLE_D14,
    "g01_pagerank": ORACLE_G01,
    "g02_degree_histogram": ORACLE_G02,
    "t19_token_yield": ORACLE_T19,
    "t20_quality_deciles": ORACLE_T20,
    "d07_dedup_apply": ORACLE_D07,
    "s01_knn_bruteforce": ORACLE_S01,
    "s03_ivf_ann": ORACLE_S03,
    "t13_heavy_hitters": ORACLE_T13,
    "t27_bm25_rank": ORACLE_T27,
    "s15_hybrid_rrf": ORACLE_S15,
    "d18_minhash_calibration": ORACLE_D18,
    "d19_substring_spans": ORACLE_D19,
    "d20_substring_apply": ORACLE_D20,
    "t28_linear_quality": ORACLE_T28,
    "t29_gopher_repetition": ORACLE_T29,
    "t30_bpe_tokens": ORACLE_T30,
    "t31_bpe_fertility": ORACLE_T31,
    "d21_duplication_profile": ORACLE_D21,
    "d22_intra_doc_repeats": ORACLE_D22,
    "d23_intra_doc_apply": ORACLE_D23,
    "d24_quality_dedup_reps": ORACLE_D24,
    "d25_line_dedup": ORACLE_D25,
    "d26_url_domains": ORACLE_D26,
    "d27_url_canonical": ORACLE_D27,
    "d28_url_dedup": ORACLE_D28,
    "p18_span_decontaminate": ORACLE_P18,
    "p19_pipeline_manifest": ORACLE_P19,
    "p20_domain_caps": ORACLE_P20,
    "s16_pq_ann": ORACLE_S16,
    "s17_ivfpq_ann": ORACLE_S17,
    "s18_index_query": ORACLE_S18,
    "d03_minhash_lsh": ORACLE_D03,
    "d04_simhash": ORACLE_D04,
    "p03_pack_sequences": ORACLE_P03,
    "s09_pca_project": ORACLE_S09,
    "s10_mmr_rerank": ORACLE_S10,
    "s12_cluster_balance": ORACLE_S12,
    "t26_compression_ratio": ORACLE_T26,
    "m07_crossmodal_knn": ORACLE_M07,
    "t01_langid": ORACLE_T01,
    "t02_quality_score": ORACLE_T02,
    "t03_token_count": ORACLE_T03,
    "t04_fingerprint": ORACLE_T04,
    "t05_vocab_topk": ORACLE_T05,
    "t06_repetition": ORACLE_T06,
    "m01_multimodal_meta": ORACLE_M01,
    "m02_decode_resize": ORACLE_M02,
    "t07_pii_scrub": ORACLE_T07,
    "t08_chunk_documents": ORACLE_T08,
    "p01_stratified_sample": ORACLE_P01,
    "p02_contamination": ORACLE_P02,
    "s04_embed_quantize": ORACLE_S04,
    "t09_tfidf_rank": ORACLE_T09,
    "s05_label_centroids": ORACLE_S05,
    "p04_profile": ORACLE_P04,
    "t10_token_entropy": ORACLE_T10,
    "s06_centroid_sim": ORACLE_S06,
    "p05_tombstone_delete": ORACLE_P05,
    "t11_langid_confusion": ORACLE_T11,
    "t12_pmi_collocations": ORACLE_T12,
    "t14_unigram_logprob": ORACLE_T14,
    "t15_doc_keywords": ORACLE_T15,
    "t16_bigram_logprob": ORACLE_T16,
    "t17_zipf_slope": ORACLE_T17,
    "s11_rerank_ann": ORACLE_S11,
    "s07_centroid_classify": ORACLE_S07,
    "s08_embed_dim_stats": ORACLE_S08,
    "p06_dataset_split": ORACLE_P06,
    "p07_mixture_sample": ORACLE_P07,
    "p08_dq_report": ORACLE_P08,
    "p09_exact_k_sample": ORACLE_P09,
    "p11_weighted_sample": ORACLE_P11,
    "p10_leakproof_split": ORACLE_P10,
    "m06_media_filter": ORACLE_M06,
    "p12_dup_weights": ORACLE_P12,
    "t21_source_overlap": ORACLE_T21,
    "t22_source_divergence": ORACLE_T22,
    "p13_winsorize": ORACLE_P13,
    "t23_token_fertility": ORACLE_T23,
    "d15_cluster_sizes": ORACLE_D15,
    "g03_triangle_count": ORACLE_G03,
    "p14_shard_balance": ORACLE_P14,
    "p15_token_budget_select": ORACLE_P15,
    "p16_epoch_upsample": ORACLE_P16,
    "p17_alpha_mixture": ORACLE_P17,
    "s13_filtered_knn": ORACLE_S13,
    "d16_threshold_sweep": ORACLE_D16,
    "t24_quality_bands": ORACLE_T24,
    "s14_silhouette": ORACLE_S14,
    "t25_vocab_growth": ORACLE_T25,
    "d17_pair_provenance": ORACLE_D17,
    "m03_frame_sample": ORACLE_M03,
    "m04_payload_chunks": ORACLE_M04,
    "m05_media_dedup": ORACLE_M05,
    "d08_semantic_dedup_apply": ORACLE_D08,
    "d09_shared_longrun": ORACLE_D09,
    "d10_dedup_clusters_star": ORACLE_D06,
    "d11_editdist_pairs": ORACLE_D11,
}
