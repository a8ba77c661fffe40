"""Corpus-selection / training-prep pipeline queries (SURVEY §2
p-rows): sampling, splits, contamination scans, packing, budgeting,
mixtures, sharding, and the composed end-to-end manifest. Split out
of queries/pipeline.py in round 9 (VERDICT r08 #8) — pure refactor;
the registry still lives in queries/pipeline.py.
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
from llamadb_spark.queries.pipeline_dedup import (
    D19_EXCERPT_FROM,
    D19_EXCERPT_LEN,
    D19_EXCERPT_MOD,
    D19_EXCERPT_REM,
    D19_MAX_GRAM_OCC,
    D19_MIN_LEN,
    ORACLE_D06,
    _D19_CORPUS_SQL,
    _d19_corpus,
)
from llamadb_spark.queries.pipeline_text import (
    T28_BIAS_MICRO,
    T28_WEIGHTS_MICRO,
    _T28_VALUES,
    _EN,
)


SAMPLE_RATES = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.75}
def p01_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.operators import sampling

    return sampling.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars"),
        rates=SAMPLE_RATES,
    )
ORACLE_P01 = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE ((doc_id % 100003) * 2654435761) % 1000 <
      CASE lang WHEN 'en' THEN {int(SAMPLE_RATES['en']*1000)}
                WHEN 'de' THEN {int(SAMPLE_RATES['de']*1000)}
                WHEN 'fr' THEN {int(SAMPLE_RATES['fr']*1000)}
                WHEN 'es' THEN {int(SAMPLE_RATES['es']*1000)}
                ELSE 1000 END
"""
#: Deterministic pseudo eval-set: every 97th doc plays the held-out
#: benchmark whose n-grams must not leak into training.
EVAL_MOD = 97
#: 4-grams: strict enough to mean real overlap, loose enough that the
#: synthetic corpus actually exhibits leakage (8-grams find zero).
CONTAM_N = 4
def p02_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    from pyspark.sql.functions import col

    train = docs.filter(col("doc_id") % EVAL_MOD != 0)
    eval_docs = docs.filter(col("doc_id") % EVAL_MOD == 0)
    return textops.contamination_check(train, eval_docs, n=CONTAM_N)
ORACLE_P02 = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(tk, k, k + {CONTAM_N - 1}), ' ') AS shingle
  FROM (
    SELECT doc_id, tk,
           unnest(generate_series(1, len(tk) - {CONTAM_N - 1})) AS k
    FROM toks WHERE len(tk) >= {CONTAM_N}
  )
),
ev AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} = 0),
tr AS (SELECT * FROM sh WHERE doc_id % {EVAL_MOD} <> 0)
SELECT tr.doc_id,
       count(DISTINCT tr.shingle) AS n_shared_ngrams,
       count(DISTINCT ev.doc_id) AS n_eval_docs
FROM tr JOIN ev ON tr.shingle = ev.shingle
GROUP BY tr.doc_id
"""
P03_BUDGET = 2048
def p03_pack_sequences(
    spark: SparkSession, sf_dir: str, token_counter: str = "ws"
) -> DataFrame:
    """Sequence packing (first-fit-decreasing per shard) with a
    driver-attestable contract: one output row per document carrying
    the exact-computable token count plus the packing invariants as
    booleans — bin fill within budget (oversized docs get singleton
    bins) and fill accounting covering the doc. Row-set equality with
    the oracle (one row per document) attests the every-doc-exactly-
    once invariant; the booleans attest the bin discipline. The bin
    assignment itself (greedy, not SQL-expressible) stays available
    via operators/packing.pack_sequences and its property tests.

    ``token_counter``: "ws" (default — the DuckDB-oracled contract:
    whitespace tokens) or "bpe" (exact BPE counts via operators/
    bpe.py, the context-window currency training actually fills —
    VERDICT r09 #6, same threading as p15/p19). The FFD discipline
    and the attestation booleans are currency-independent."""
    from pyspark.sql.functions import col

    from llamadb_spark.operators import packing

    docs = _docs(spark, sf_dir)
    sizes = None
    if token_counter == "bpe":
        from llamadb_spark.operators.bpe import bpe_token_counts

        sizes = bpe_token_counts(docs).select(
            "doc_id", col("bpe_tokens").alias("n_tokens")
        )
    packed = packing.pack_sequences(docs, budget=P03_BUDGET, sizes=sizes)
    return packed.select(
        "doc_id",
        "n_tokens",
        (
            (col("bin_fill") <= P03_BUDGET) | (col("n_tokens") > P03_BUDGET)
        ).alias("fits_budget"),
        (col("bin_fill") >= col("n_tokens")).alias("fill_covers_doc"),
    )
ORACLE_P03 = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
         AS n_tokens,
       TRUE AS fits_budget,
       TRUE AS fill_covers_doc
FROM documents
"""
def p04_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column census over documents (operators/
    profiling.py): null counts, exact distinct cardinalities, native
    min/max — the pre-training data-quality gate."""
    from llamadb_spark.operators.profiling import profile_columns

    return profile_columns(_docs(spark, sf_dir), ["lang", "source", "n_chars"])
ORACLE_P04 = """
SELECT 'lang' AS column_name, count(*) AS n_rows,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT lang) AS n_distinct,
       CAST(min(lang) AS VARCHAR) AS min_val, CAST(max(lang) AS VARCHAR) AS max_val
FROM documents
UNION ALL
SELECT 'source', count(*),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT source),
       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'n_chars', count(*),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT n_chars),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
"""
def p05_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted deletion (GDPR/takedown shape): remove every document
    on a tombstone list from the corpus via broadcast LEFT ANTI join.

    The tombstone list is deterministic here (doc_id % 97 == 0 stands
    in for the request table). Scale: deletion lists are tiny relative
    to the corpus → broadcast anti join, no corpus shuffle at all;
    the corpus pass stays a single scan. This is the compliance twin
    of d07's dedup-apply (same anti-join shape, different driver).
    """
    docs = _docs(spark, sf_dir)
    tombstones = docs.filter((F.col("doc_id") % 97) == 0).select("doc_id")
    return (
        docs.join(F.broadcast(tombstones), "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )
ORACLE_P05 = """
SELECT doc_id, lang, source
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM documents t
                  WHERE t.doc_id % 97 = 0 AND t.doc_id = d.doc_id)
"""
def p06_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split census: deterministic hash-range
    assignment (operators/sampling.py dataset_split) rolled up per
    (split, lang) with per-language shares."""
    from pyspark.sql.window import Window

    from llamadb_spark.operators.sampling import dataset_split

    out = dataset_split(_docs(spark, sf_dir))
    per = out.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return per.select(
        "split", "lang", "n_docs", F.round(F.col("n_docs") / total, 6).alias("share")
    )
ORACLE_P06 = """
WITH labeled AS (
  SELECT lang,
         CASE WHEN ((doc_id % 100003) * 2654435761) % 1000 < 800 THEN 'train'
              WHEN ((doc_id % 100003) * 2654435761) % 1000 < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
per AS (
  SELECT split, lang, count(*) AS n_docs FROM labeled GROUP BY 1, 2
)
SELECT split, lang, n_docs,
       round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE),
             6) AS share
FROM per
"""
def p08_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over the orders table (the
    deequ/dbt-test pattern): each check is ONE conditional aggregate,
    all checks ride a single table scan (one agg, no per-check jobs);
    referential integrity adds one broadcast anti-join count. Output
    one row per check so a pipeline can alert on n_violations > 0.

    Checks: primary-key uniqueness, NOT NULL, value domain,
    non-negativity, date bounds, referential integrity to customer.
    """
    from pyspark.sql.functions import broadcast, col, lit

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    one_pass = orders.agg(
        (F.count(lit(1)) - F.countDistinct("o_orderkey")).alias(
            "pk_duplicate_orderkeys"
        ),
        F.count_if(col("o_custkey").isNull()).alias("null_custkeys"),
        F.count_if(
            ~col("o_orderstatus").isin("F", "O", "P")
        ).alias("bad_status_values"),
        F.count_if(col("o_totalprice") <= 0).alias("nonpositive_totalprice"),
        F.count_if(
            (col("o_orderdate") < lit("1990-01-01").cast("timestamp"))
            | (col("o_orderdate") > lit("2030-01-01").cast("timestamp"))
        ).alias("out_of_range_orderdate"),
    )
    orphan = (
        orders.join(
            broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
        )
        .agg(F.count(lit(1)).alias("orphan_custkeys"))
    )
    wide = one_pass.crossJoin(orphan)
    checks = [
        "pk_duplicate_orderkeys",
        "null_custkeys",
        "bad_status_values",
        "nonpositive_totalprice",
        "out_of_range_orderdate",
        "orphan_custkeys",
    ]
    stacked = ", ".join(f"'{c}', {c}" for c in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {stacked}) AS (check_name, n_violations)"
    )
ORACLE_P08 = """
SELECT 'pk_duplicate_orderkeys' AS check_name,
       count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
UNION ALL
SELECT 'null_custkeys', count(*) FILTER (o_custkey IS NULL) FROM orders
UNION ALL
SELECT 'bad_status_values',
       count(*) FILTER (o_orderstatus NOT IN ('F', 'O', 'P')) FROM orders
UNION ALL
SELECT 'nonpositive_totalprice',
       count(*) FILTER (o_totalprice <= 0) FROM orders
UNION ALL
SELECT 'out_of_range_orderdate',
       count(*) FILTER (o_orderdate < TIMESTAMP '1990-01-01'
                        OR o_orderdate > TIMESTAMP '2030-01-01') FROM orders
UNION ALL
SELECT 'orphan_custkeys', count(*) FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
"""
def p09_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from llamadb_spark.operators.sampling import exact_k_sample

    return exact_k_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"), k=25
    )
ORACLE_P09 = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
             PARTITION BY lang
             ORDER BY ((doc_id % 100003) * 2654435761) % 1000000000, doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rk <= 25
"""
P11_SAMPLE_K = 100
def p11_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: keep docs with probability proportional
    to their length (n_chars), expected sample ≈ 100 docs — see
    operators/sampling.weighted_sample for the integer-exact draw."""
    from llamadb_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        k=P11_SAMPLE_K,
        weight_col="n_chars",
    )
ORACLE_P11 = f"""
WITH w AS (SELECT sum(n_chars) AS w_total FROM documents)
SELECT doc_id, lang, n_chars,
       round(least(1.0, {P11_SAMPLE_K} * n_chars / CAST(w_total AS DOUBLE)), 6)
         AS incl_prob
FROM documents, w
WHERE CAST(((doc_id % 100003) * 2654435761) % 1000000000 AS HUGEINT) * w_total
      < {P11_SAMPLE_K} * CAST(n_chars AS HUGEINT) * 1000000000
"""
# ORACLE_D11 is defined after ORACLE_D09 below (it embeds the d09
# candidate SQL as a CTE).


def p10_leakproof_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: hash-range assignment
    keyed on each document's dedup CLUSTER id (its own id when it has
    no near-dups), so near-duplicate documents can never straddle a
    split boundary — the leakage mode a plain per-doc split
    (p06/dataset_split) cannot prevent. Composition: d06's connected
    components → join the cluster map onto the corpus (size =
    near-dup doc count, data-dependent, so no broadcast hint — AQE
    chooses at runtime) → the same deterministic hash-range CASE as
    dataset_split, on the canonical id.

    Output: (split, n_docs, n_clusters) — the no-straddle invariant
    itself is asserted in tests/test_pipeline_ops.py.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators.sampling import bucket_hash

    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_ngram_pairs(
        docs, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs).select(
        col("node").alias("doc_id"), "cluster_id"
    )
    labeled = docs.select("doc_id").join(cc, "doc_id", "left")
    canonical = F.coalesce(col("cluster_id"), col("doc_id"))
    b = bucket_hash(canonical)
    split = (
        F.when(b < 800, "train").when(b < 900, "val").otherwise("test")
    )
    return (
        labeled.select(split.alias("split"), canonical.alias("_canon"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_canon").alias("n_clusters"),
        )
        .orderBy("split")
    )
ORACLE_P10 = f"""
WITH cc AS ({ORACLE_D06}),
labeled AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS canon
  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
),
assigned AS (
  SELECT canon,
         CASE WHEN ((canon % 100003) * 2654435761) % 1000 < 800 THEN 'train'
              WHEN ((canon % 100003) * 2654435761) % 1000 < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM labeled
)
SELECT split, count(*) AS n_docs, count(DISTINCT canon) AS n_clusters
FROM assigned
GROUP BY split
ORDER BY split
"""
#: Corpus-mixing targets: cap the overrepresented languages, keep
#: everything else (de's target exceeds its count → keep-all arm).
MIXTURE_TARGETS = {"en": 100, "zh": 50, "de": 1000}
def p07_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing (operators/sampling.py mixture_sample):
    per-language keep thresholds derived from one count aggregate,
    broadcast back onto the corpus, applied with the deterministic
    key hash — reproducible at any cluster size, one corpus pass."""
    from llamadb_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        target_counts=MIXTURE_TARGETS,
    )
ORACLE_P07 = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
thresh AS (
  SELECT lang,
         least(1000, floor(1000.0 * CASE lang
             WHEN 'en' THEN {MIXTURE_TARGETS['en']}
             WHEN 'zh' THEN {MIXTURE_TARGETS['zh']}
             WHEN 'de' THEN {MIXTURE_TARGETS['de']}
             END / n)) AS t
  FROM counts
)
SELECT doc_id, d.lang AS lang
FROM documents d LEFT JOIN thresh USING (lang)
WHERE t IS NULL OR ((doc_id % 100003) * 2654435761) % 1000 < t
"""
#: p17: temperature exponent + doc budget for α-smoothed sampling.
P17_ALPHA = 0.7
P17_BUDGET = 300
def p17_alpha_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed multilingual sampling (the mBERT/XLM-R
    mixture scheme): target share of language l ∝ (raw share)^α with
    α<1, so low-resource languages are upsampled relative to their
    raw mass and high-resource ones capped — then a doc budget turns
    shares into per-language keep rates applied with the repo's
    deterministic hash draw. Report per language: raw vs kept counts
    and raw vs target share.

    Determinism discipline (d16/p12): smoothed weights are quantized
    to integer nano-units BEFORE normalizing, and keep thresholds
    come from pure BIGINT division — no partition-order double sums,
    no cross-engine floor flips. Scale: two n_langs-row aggregates
    broadcast onto one corpus pass; the final report is an
    n_langs-group rollup.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators.sampling import bucket_hash

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    # the scalar totals derive from `counts` itself, so each
    # crossJoin is a self-join by lineage — qualified aliases keep
    # column resolution unambiguous under Spark's self-join detection
    total = counts.agg(F.sum("n").alias("n_total"))
    w = (
        counts.alias("c")
        .crossJoin(F.broadcast(total.alias("t")))
        .select(
            col("c.lang").alias("lang"),
            col("c.n").alias("n"),
            col("t.n_total").alias("n_total"),
            F.floor(
                F.lit(1e9)
                * F.pow(col("c.n") / col("t.n_total"), F.lit(P17_ALPHA))
            )
            .cast("long")
            .alias("wq"),
        )
    )
    wsum = w.agg(F.sum("wq").alias("sumwq"))
    th = (
        w.alias("w")
        .crossJoin(F.broadcast(wsum.alias("s")))
        .selectExpr(
            "w.lang AS lang",
            "w.n AS n",
            "w.n_total AS n_total",
            "w.wq AS wq",
            "s.sumwq AS sumwq",
            f"least(CAST(1000 AS BIGINT), "
            f"(w.wq * {P17_BUDGET} * 1000) div (s.sumwq * w.n)) "
            f"AS _thresh",
        )
    )
    # one corpus pass: the n_langs-row threshold table broadcasts
    # onto docs and BOTH counts (raw + kept) come out of one agg —
    # no join-back between derived frames
    flagged = docs.join(
        F.broadcast(th.select("lang", "_thresh", "n_total", "wq", "sumwq")),
        "lang",
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(
                F.when(
                    bucket_hash(col("doc_id")) < col("_thresh"), 1
                ).otherwise(0)
            ).alias("n_kept"),
            F.first("n_total").alias("_N"),
            F.first("wq").alias("_wq"),
            F.first("sumwq").alias("_sumwq"),
        )
        .select(
            "lang",
            "n_raw",
            "n_kept",
            F.round(col("n_raw") / col("_N"), 6).alias("raw_share"),
            F.round(col("_wq") / col("_sumwq"), 6).alias("target_share"),
        )
    )
ORACLE_P17 = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT sum(n) AS n_total FROM counts),
w AS (
  SELECT lang, n, n_total,
         CAST(floor(1e9 * pow(n / CAST(n_total AS DOUBLE), {P17_ALPHA}))
              AS BIGINT) AS wq
  FROM counts CROSS JOIN tot
),
sw AS (SELECT sum(wq) AS sumwq FROM w),
th AS (
  SELECT lang, n, n_total, wq, sumwq,
         least(CAST(1000 AS BIGINT),
               (wq * {P17_BUDGET} * 1000) // (sumwq * n)) AS thresh
  FROM w CROSS JOIN sw
),
kc AS (
  SELECT d.lang, count(*) AS n_kept
  FROM documents d JOIN th ON th.lang = d.lang
  WHERE ((doc_id % 100003) * 2654435761) % 1000 < th.thresh
  GROUP BY d.lang
)
SELECT t.lang, t.n AS n_raw, coalesce(kc.n_kept, 0) AS n_kept,
       round(t.n / CAST(t.n_total AS DOUBLE), 6) AS raw_share,
       round(t.wq / CAST(t.sumwq AS DOUBLE), 6) AS target_share
FROM th t LEFT JOIN kc ON kc.lang = t.lang
"""
def p12_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware training weights: every exact-duplicate copy
    of a document gets weight 1/cluster_size, so each distinct text
    contributes exactly once to the training objective no matter how
    many times the crawl saw it ("count once" weighting — the soft
    alternative to dropping copies, and the form loss-reweighting
    pipelines actually consume). Per source: raw doc count vs the
    effective (deduplicated) document mass, and the dup tax.

    Scale: sha2 groupBy (the d01 shuffle, digest+count only), then
    the per-doc weight rides a sha-keyed join back onto (doc_id,
    source, sha) — both sides pre-projected; one final 5-group agg.

    Determinism: weights are summed as integer micro-units
    (floor(1e6/n_copies), exact longs — the d16/s14 discipline)
    because a double Σ(1/n) is partition-order dependent in the last
    ulp and a 6dp round of it can flip between runs/engines.
    """
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.sha2("text", 256).alias("sha")
    )
    sizes = docs.groupBy("sha").agg(F.count(F.lit(1)).alias("n_copies"))
    weighted = docs.join(sizes, "sha").select(
        "source",
        F.floor(F.lit(1000000.0) / F.col("n_copies"))
        .cast("long")
        .alias("w_micro"),
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("w_micro") / 1e6, 6).alias("effective_docs"),
        F.round(
            F.lit(1.0) - F.sum("w_micro") / (F.lit(1e6) * F.count(F.lit(1))),
            6,
        ).alias("dup_tax"),
    )
ORACLE_P12 = """
WITH sized AS (
  SELECT source,
         CAST(floor(1000000.0 / count(*) OVER (PARTITION BY sha256(text)))
              AS BIGINT) AS w_micro
  FROM documents
)
SELECT source, count(*) AS n_docs,
       round(sum(w_micro) / 1000000.0, 6) AS effective_docs,
       round(1.0 - sum(w_micro) / (1000000.0 * count(*)), 6) AS dup_tax
FROM sized
GROUP BY source
"""
def p13_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorization of document lengths: clip n_chars
    at that language's [p05, p95] before computing summary stats —
    the outlier-robust preprocessing step for any length-based
    quality gate (one 10 MB html blob shouldn't drag a language's
    mean length). Exact percentiles per group via percentile_cont
    semantics, clip applied in the same pass via a broadcast-size
    bounds table (n_langs rows).

    Output per lang: n_docs, clipped mean/stddev, clip fractions.
    """
    from pyspark.sql.functions import broadcast, col

    docs = _docs(spark, sf_dir).select("lang", col("n_chars").cast("double"))
    bounds = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    clipped = docs.join(broadcast(bounds), "lang").select(
        "lang",
        F.greatest(F.least(col("n_chars"), col("hi")), col("lo")).alias("w"),
        (col("n_chars") < col("lo")).cast("int").alias("clip_lo"),
        (col("n_chars") > col("hi")).cast("int").alias("clip_hi"),
    )
    return clipped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("w"), 6).alias("mean_clipped"),
        F.round(F.stddev_pop("w"), 6).alias("std_clipped"),
        F.round(F.avg("clip_lo"), 6).alias("frac_clip_lo"),
        F.round(F.avg("clip_hi"), 6).alias("frac_clip_hi"),
    )
ORACLE_P13 = """
WITH d AS (SELECT lang, CAST(n_chars AS DOUBLE) AS n_chars FROM documents),
b AS (
  SELECT lang,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY n_chars) AS lo,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY n_chars) AS hi
  FROM d GROUP BY lang
),
c AS (
  SELECT d.lang,
         greatest(least(n_chars, hi), lo) AS w,
         CASE WHEN n_chars < lo THEN 1 ELSE 0 END AS clip_lo,
         CASE WHEN n_chars > hi THEN 1 ELSE 0 END AS clip_hi
  FROM d JOIN b ON d.lang = b.lang
)
SELECT lang, count(*) AS n_docs,
       round(avg(w), 6) AS mean_clipped,
       round(stddev_pop(w), 6) AS std_clipped,
       round(avg(clip_lo), 6) AS frac_clip_lo,
       round(avg(clip_hi), 6) AS frac_clip_hi
FROM c
GROUP BY lang
"""
#: Data-loader shard count for the p14 balance report.
P14_N_SHARDS = 16
def p14_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment + balance report: every document is
    deterministically hashed to one of N loader shards and the report
    shows per-shard doc/token mass — the check that no data-loader
    worker starves or hotspots (skew here directly serializes a
    training run). Hash sharding is reproducible across runs and
    cluster sizes (same contract as the p06 split).

    Scale: one scan, one N-group aggregate; the token count is the
    t03 whitespace contract.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators.sampling import bucket_hash

    docs = _docs(spark, sf_dir)
    shard = bucket_hash(col("doc_id"), buckets=P14_N_SHARDS).alias("shard")
    n_tok = F.size(F.filter(text_fns.tokens(col("text")), lambda x: x != ""))
    return (
        docs.select(shard, n_tok.alias("n_tok"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
ORACLE_P14 = rf"""
WITH d AS (
  SELECT ((doc_id % 100003) * 2654435761) % {P14_N_SHARDS} AS shard,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM d GROUP BY shard
"""
#: p15: whitespace-token budget for the selected corpus — fixed
#: absolute so the cut bites harder as SF grows (top ~50% at
#: sf0.001, top ~5% at sf0.01), exactly how a real token budget
#: behaves against a growing crawl.
P15_TOKEN_BUDGET = 50_000
def p15_token_budget_select(
    spark: SparkSession, sf_dir: str, token_counter: str = "ws"
) -> DataFrame:
    """Token-budget corpus selection: keep the highest-quality
    documents whose cumulative token count fits a fixed training
    budget — the "I can afford N tokens, which docs make the cut"
    decision every pretraining data plan ends with. Selection is
    the maximal prefix of the quality-descending order (t02's quality
    score, doc_id tie-break) whose running token total stays within
    budget; reported per source (where the surviving mass comes
    from).

    ``token_counter``: the budget currency — "ws" (default, the
    DuckDB-oracled contract: whitespace tokens) or "bpe" (exact BPE
    counts via operators/bpe.py — what a training run actually
    spends; VERDICT r08 #2). The candidate ORDER is currency-
    independent, so the two selections are nested prefixes.

    Scale: the running total comes from operators/ranking.py
    distributed_cumsum — range-repartition on the order + per-
    partition window + partition-count-bounded offsets — NOT a
    global-order window, which would single-task the whole corpus
    (the e20 hazard, audited suite-wide). One scan for scoring, one
    range shuffle, one final ≤n_sources-group aggregate; the bpe
    variant adds the vocab-bounded encode + one word-keyed join.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators.ranking import distributed_cumsum

    docs = _docs(spark, sf_dir)
    scored = textops.quality_score(docs).select(
        "doc_id", "n_tokens", "quality"
    )
    base = scored.join(docs.select("doc_id", "source"), "doc_id")
    if token_counter == "bpe":
        from llamadb_spark.operators.bpe import bpe_token_counts

        bt = bpe_token_counts(docs).select(
            "doc_id", col("bpe_tokens").alias("budget_tokens")
        )
        base = base.join(bt, "doc_id").drop("n_tokens")
    else:
        base = base.withColumnRenamed("n_tokens", "budget_tokens")
    cum = distributed_cumsum(
        base,
        [col("quality").desc(), col("doc_id").asc()],
        "budget_tokens",
        out_col="cum_tokens",
    )
    return (
        cum.filter(col("cum_tokens") <= P15_TOKEN_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_selected"),
            F.sum("budget_tokens").alias("tokens_selected"),
        )
    )
ORACLE_P15 = rf"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_dis,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), {_EN})) AS DOUBLE) AS hits
  FROM documents
),
q AS (
  SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tokens,
         round((n_dis / n_tok) * least(1.0, n_tok / 100.0)
               * (1 - n_punct / n_chars)
               * (0.5 + 0.5 * least(1.0, 4 * hits / n_dis)), 6) AS quality
  FROM d
),
c AS (
  SELECT source, n_tokens,
         sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM q
)
SELECT source, count(*) AS n_docs_selected,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_selected
FROM c WHERE cum_tokens <= {P15_TOKEN_BUDGET}
GROUP BY source
"""
#: p16: per-source epoch multipliers — the mixture weights a
#: pretraining run actually trains with (>1 = upsample by repetition,
#: <1 = deterministic subsample, absent = 1.0 pass-through).
P16_EPOCHS = {"src0": 2.5, "src1": 0.25, "src2": 1.75, "src3": 3.0}
def p16_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted mixture materialization: emit each document
    floor(m) times plus one more copy with probability frac(m), where
    m is its source's epoch multiplier — how "wiki × 3.2 epochs, web
    × 0.8" becomes an actual training manifest. The fractional draw
    is the repo's deterministic doc_id hash (the p06/p14 contract),
    so retries and reruns materialize the identical corpus. Output:
    the manifest rows (doc_id, source, copy_id).

    Scale: no join and no shuffle at all — a literal CASE for the
    multiplier, one hash, one explode whose fan-out is bounded by
    ceil(max multiplier) (a small constant); the manifest streams
    straight to the sink. Down-sampled sources (m < 1) drop docs by
    the same hash, so a source's keep-set is stable as m grows.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    m = F.lit(1.0)
    for src, mult in P16_EPOCHS.items():
        m = F.when(col("source") == src, F.lit(float(mult))).otherwise(m)
    draw = ((col("doc_id") % 100003) * 2654435761) % 1000000
    whole = F.floor(m).cast("long")
    frac = m - F.floor(m)
    n_copies = whole + F.when(draw < frac * 1e6, 1).otherwise(0)
    return (
        docs.withColumn("n_copies", n_copies)
        .filter(col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1).cast("long"), col("n_copies")))
            .alias("copy_id"),
        )
    )
def _p16_case_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {m}" for s, m in P16_EPOCHS.items()
    )
    return f"CASE source {arms} ELSE 1.0 END"
ORACLE_P16 = f"""
WITH d AS (
  SELECT doc_id, source,
         {_p16_case_sql()} AS m,
         ((doc_id % 100003) * 2654435761) % 1000000 AS draw
  FROM documents
),
c AS (
  SELECT doc_id, source,
         CAST(floor(m) AS BIGINT)
         + CASE WHEN draw < (m - floor(m)) * 1000000 THEN 1 ELSE 0 END AS n
  FROM d
)
SELECT doc_id, source,
       unnest(generate_series(1, n)) AS copy_id
FROM c WHERE n > 0
"""
def p18_span_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at SPAN granularity (#273): the d19 seeded
    corpus's excerpt twins play the EVAL set (ids ≥ 1e6); any
    training doc sharing a run ≥ 40 chars with an eval doc gets those
    exact byte ranges cut (Lee et al. decontamination: drop the
    overlapping substrings, keep the rest of the doc — p02's n-gram
    scan says WHO leaks; this removes WHAT leaked). Organic
    train↔train duplicate spans are deliberately untouched — that's
    d20's job, not decontamination. Output: one row per affected
    train doc (doc_id, n_spans, removed_chars, clean_text), exactly
    DuckDB-oracled."""
    from pyspark.sql.functions import col

    from llamadb_spark.operators.spans import (
        remove_spans,
        substring_span_pairs,
    )

    corpus = _d19_corpus(spark, sf_dir)
    spans = substring_span_pairs(
        corpus, min_len=D19_MIN_LEN, max_gram_occ=D19_MAX_GRAM_OCC
    )
    is_eval_a = col("a_id") >= 1_000_000
    is_eval_b = col("b_id") >= 1_000_000
    # exactly one side eval; relabel so the TRAIN side is the removal
    # target (remove_spans cuts the b side)
    train_side = spans.filter(is_eval_a != is_eval_b).select(
        F.when(is_eval_b, col("a_id")).otherwise(col("b_id")).alias("b_id"),
        F.when(is_eval_b, col("a_start"))
        .otherwise(col("b_start"))
        .alias("b_start"),
        "run_len",
    )
    train = corpus.filter(col("doc_id") < 1_000_000)
    return remove_spans(train, train_side)
ORACLE_P18 = f"""
WITH {_D19_CORPUS_SQL},
iv AS (
  SELECT a_id AS doc_id, a_start AS s, a_start + run_len AS e
  FROM spans WHERE b_id >= 1000000 AND a_id < 1000000
  UNION ALL
  SELECT b_id, b_start, b_start + run_len
  FROM spans WHERE a_id >= 1000000 AND b_id < 1000000
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
#: p19: the composed end-to-end curation pipeline (VERDICT r07 #3).
#: Token budget bites AFTER the quality filter; fixed absolute like
#: p15 so the cut tightens as SF grows. Shard count distinct from
#: p14's so the two keys can't mask each other's regressions.
P19_TOKEN_BUDGET = 20_000
P19_N_SHARDS = 8
def p19_pipeline_manifest(
    spark: SparkSession, sf_dir: str, token_counter: str = "ws"
) -> DataFrame:
    """The artifact a data team actually ships (VERDICT r07 #3): ONE
    DAG composing the already-proven stages end-to-end — raw corpus →
    exact dedup (d01 policy) → near-dup clusters (d02 Jaccard pairs →
    d06 connected components, keep min-id representative) → span
    removal + eval decontamination with the d19 detector staged ONCE
    (its localCheckpointed output feeds BOTH the d20 train↔train cut
    and the p18 train↔eval cut) → model-based quality filter (t28) on
    the CLEANED text → token-budget selection (p15 machinery,
    distributed cumsum — no global-order window) → sequence packing
    (p03 invariants) → deterministic loader shards (p14 hash).

    The near-dup stage uses the DETERMINISTIC lexical path (d02/d06)
    rather than the seeded LSH default (d12) precisely so the final
    manifest is exactly DuckDB-oracled; at 100 TB you swap in
    semantic_dedup_pairs' LSH default (#263) — the composition is
    identical from clusters onward.

    Output: one row per SELECTED doc (doc_id, source, shard,
    n_tokens, logit_micro, fits_budget, fill_covers_doc) — membership
    attests every upstream cut, token counts attest the clean-text
    accounting, booleans attest the packing discipline. The oracle
    recomputes the whole pipeline independently in SQL (recursive-CTE
    clusters, window-islands spans, VALUES-table scoring).

    Scale: each stage is the audited operator; staging boundaries are
    localCheckpoints so no stage's plan re-executes inside another's
    (the detector re-run finding of VERDICT r07 #2 — measured fixed
    here: PLAN_REPORT shows one detection).
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators import packing
    from llamadb_spark.operators.ranking import distributed_cumsum
    from llamadb_spark.operators.sampling import bucket_hash
    from llamadb_spark.operators.spans import (
        remove_spans,
        substring_span_pairs,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")

    # Stage 1 — exact dedup: keep each sha's min doc_id
    keep = dedup.exact_dedup(docs).select(col("keep_id").alias("doc_id"))
    surv1 = docs.join(keep, "doc_id", "left_semi")

    # Stage 2 — near-dup clusters over the exact-dedup survivors;
    # drop every non-representative cluster member
    pairs = dedup.jaccard_ngram_pairs(
        surv1, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
    ).select("a_id", "b_id")
    losers = (
        dedup.connected_components(pairs)
        .filter(col("node") != col("cluster_id"))
        .select(col("node").alias("doc_id"))
    )
    surv2, _ = stage(surv1.join(losers, "doc_id", "left_anti"))

    # Stage 3 — span detection ONCE over survivors + eval excerpts
    # (the d19 eval twins, built from the ORIGINAL corpus: the eval
    # set is external and does not dedup away with its source doc)
    evals = docs.filter(
        col("doc_id") % D19_EXCERPT_MOD == D19_EXCERPT_REM
    ).select(
        (col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("zqx-"),
            F.substring("text", D19_EXCERPT_FROM, D19_EXCERPT_LEN),
            F.lit("-xqz"),
        ).alias("text"),
    )
    spans, _ = stage(  # detector output staged ONCE, consumed twice
        substring_span_pairs(
            surv2.select("doc_id", "text").unionByName(evals),
            min_len=D19_MIN_LEN,
            max_gram_occ=D19_MAX_GRAM_OCC,
        )
    )
    tt = spans.filter(col("b_id") < 1_000_000).select(
        "b_id", "b_start", "run_len"
    )  # train↔train: cut the HIGHER id (d20 policy)
    te = spans.filter(
        (col("b_id") >= 1_000_000) & (col("a_id") < 1_000_000)
    ).select(
        col("a_id").alias("b_id"),
        col("a_start").alias("b_start"),
        "run_len",
    )  # train↔eval: cut the TRAIN side (p18 policy)
    cleaned = remove_spans(surv2, tt.unionByName(te))
    surv3, _ = stage(
        surv2.join(cleaned.select("doc_id", "clean_text"), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(col("clean_text"), col("text")).alias("text"),
        )
    )

    # Stage 4 — model-based quality filter on the CLEANED text
    q = textops.linear_quality_score(
        surv3, weights_micro=T28_WEIGHTS_MICRO, bias_micro=T28_BIAS_MICRO
    ).filter(col("is_quality"))

    # Stage 5 — token-budget selection (quality-descending prefix).
    # token_counter="bpe" budgets in exact BPE tokens of the CLEANED
    # text (operators/bpe.py — the currency training actually spends,
    # VERDICT r08 #2); the candidate ORDER (logit desc, doc_id) is
    # currency-independent, so ws/bpe selections are nested prefixes.
    if token_counter == "bpe":
        from llamadb_spark.operators.bpe import bpe_token_counts

        bt = bpe_token_counts(surv3).select(
            "doc_id", col("bpe_tokens").alias("budget_tokens")
        )
        qb = q.select("doc_id", "logit_micro").join(bt, "doc_id")
    else:
        qb = q.select(
            "doc_id", col("n_tokens").alias("budget_tokens"), "logit_micro"
        )
    sel = distributed_cumsum(
        qb,
        [col("logit_micro").desc(), col("doc_id").asc()],
        "budget_tokens",
        out_col="cum_tokens",
    ).filter(col("cum_tokens") <= P19_TOKEN_BUDGET)

    # Stage 6 — pack the selected docs, assign loader shards
    packed = packing.pack_sequences(
        surv3.join(sel.select("doc_id"), "doc_id", "left_semi"),
        budget=P03_BUDGET,
    )
    return (
        packed.join(sel.select("doc_id", "logit_micro"), "doc_id")
        .join(surv3.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            bucket_hash(col("doc_id"), buckets=P19_N_SHARDS).alias("shard"),
            "n_tokens",
            "logit_micro",
            (
                (col("bin_fill") <= P03_BUDGET)
                | (col("n_tokens") > P03_BUDGET)
            ).alias("fits_budget"),
            (col("bin_fill") >= col("n_tokens")).alias("fill_covers_doc"),
        )
    )
ORACLE_P19 = rf"""
WITH RECURSIVE surv1 AS (
  SELECT d.doc_id, d.text, d.source FROM documents d
  JOIN (
    SELECT min(doc_id) AS doc_id FROM documents
    GROUP BY sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
  ) k USING (doc_id)
),
jtoks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM surv1
),
jpos AS (
  SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS i
  FROM jtoks
),
jsh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM jpos a
  JOIN jpos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN jpos c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
jsizes AS (SELECT doc_id, count(*) AS n_sh FROM jsh GROUP BY 1),
jkept AS (
  SELECT doc_id, shingle FROM jsh
  WHERE shingle IN (SELECT shingle FROM jsh GROUP BY shingle
                    HAVING count(*) <= {STOP_SHINGLE_DF})
),
jinter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM jkept a JOIN jkept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT a_id, b_id FROM jinter
  JOIN jsizes sa ON sa.doc_id = a_id
  JOIN jsizes sb ON sb.doc_id = b_id
  WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
        >= {JACCARD_THRESHOLD}
),
edges AS (
  SELECT a_id AS u, b_id AS v FROM prs
  UNION ALL
  SELECT b_id, a_id FROM prs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
losers AS MATERIALIZED (
  SELECT u AS doc_id FROM reach GROUP BY u HAVING min(v) < u
),
surv2 AS (
  SELECT * FROM surv1 WHERE doc_id NOT IN (SELECT doc_id FROM losers)
),
spancorpus AS (
  SELECT doc_id, text FROM surv2
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'zqx-' || substr(text, {D19_EXCERPT_FROM}, {D19_EXCERPT_LEN})
             || '-xqz' AS text
  FROM documents WHERE doc_id % {D19_EXCERPT_MOD} = {D19_EXCERPT_REM}
),
grams AS (
  SELECT doc_id, p AS pos,
         substr(text, CAST(p AS INT), {D19_MIN_LEN}) AS gram
  FROM spancorpus, unnest(generate_series(1, length(text) - {D19_MIN_LEN - 1}))
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
  SELECT b_id AS doc_id, b_start AS s, b_start + run_len AS e
  FROM spans WHERE b_id < 1000000
  UNION ALL
  SELECT a_id, a_start, a_start + run_len
  FROM spans WHERE b_id >= 1000000 AND a_id < 1000000
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
  FROM merged m2 JOIN surv2 c ON c.doc_id = m2.doc_id
  GROUP BY m2.doc_id
),
pieces AS (
  SELECT g.doc_id, g.gs,
         substr(c.text, CAST(g.gs AS INT),
                CAST(greatest(g.ge - g.gs, 0) AS INT)) AS piece
  FROM gaps g JOIN surv2 c ON c.doc_id = g.doc_id
),
cleanedtext AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY gs) AS clean_text
  FROM pieces GROUP BY doc_id
),
surv3 AS (
  SELECT s.doc_id, s.source, coalesce(c.clean_text, s.text) AS text
  FROM surv2 s LEFT JOIN cleanedtext c USING (doc_id)
),
qtoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM surv3
),
w AS (SELECT * FROM (VALUES {_T28_VALUES}) AS t(tok, w_micro)),
q AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(sum(coalesce(w.w_micro, 0)) + {T28_BIAS_MICRO} AS BIGINT)
           AS logit_micro
  FROM qtoks LEFT JOIN w USING (tok)
  GROUP BY doc_id
  HAVING (sum(coalesce(w.w_micro, 0)) + {T28_BIAS_MICRO}) > 0
),
c AS (
  SELECT doc_id, n_tokens, logit_micro,
         sum(n_tokens) OVER (ORDER BY logit_micro DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM q
)
SELECT s.doc_id, v.source,
       CAST(((s.doc_id % 100003) * 2654435761) % {P19_N_SHARDS} AS BIGINT)
         AS shard,
       s.n_tokens, s.logit_micro,
       TRUE AS fits_budget, TRUE AS fill_covers_doc
FROM c s JOIN surv3 v USING (doc_id)
WHERE s.cum_tokens <= {P19_TOKEN_BUDGET}
"""


# --- p20: per-domain caps + domain-mix/tail report (round 10) -------

#: Expected per-domain doc cap. Fixed absolute so the cap bites
#: harder as SF grows (the seeded head domain holds ~6-8% of the
#: corpus: ~29 docs at sf0.01 -> keep rate 103/1000, ~290 at sf0.1
#: -> 10/1000), exactly how a real crawl cap behaves.
P20_DOMAIN_CAP = 3
#: A domain is "tail" with <= this many raw docs — the long tail a
#: mix report tracks against the capped head.
P20_TAIL_MAX_DOCS = 2


def p20_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps + the domain-mix/tail report — the
    C4/RefinedWeb crawl-hygiene step (cap any one registrant's mass
    so boilerplate-heavy megadomains can't dominate the corpus), as
    one declarative pass. VERDICT r09 #5.

    The cap is operators/urls.domain_cap_sample's deterministic
    Bernoulli rate draw (p07's machinery): per-domain EXACT
    keep-first-k would need a rank window partitioned by domain, and
    crawl domain mass is exactly the skew AQE cannot split inside a
    window — one hot domain, one unsplittable 8-TB task at 100 TB.
    The rate draw is a bounded count aggregate broadcast back onto a
    codegen'd filter.

    Output: one row per public suffix (bounded groups) — domain
    count, raw vs kept doc mass, the head domain's raw size and
    share (ppm, integer division — no float order dependence), and
    the tail-domain count. Exact integers end to end, so the oracle
    hash-matches.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators import urls
    from llamadb_spark.operators.sampling import bucket_hash
    from llamadb_spark.queries.pipeline_common import _docs_with_urls

    docs = _docs_with_urls(spark, sf_dir)
    # r11: host staging reverted (see d26 — codegen subexpression
    # elimination already evaluates the shared regexp once per row;
    # the staged projection measured ~10% SLOWER in the paired ABBA
    # and 22% slower in the r10 driver bench).
    host = urls.host_of(col("url"))
    base = docs.select(
        "doc_id",
        urls.registered_domain(host).alias("domain"),
        urls.public_suffix(host).alias("suffix"),
    )
    counts = base.groupBy("domain").agg(F.count(F.lit(1)).alias("_n"))
    rates = counts.select(
        "domain",
        col("_n"),
        F.least(
            F.lit(1000), F.expr(f"({1000 * P20_DOMAIN_CAP} div _n)")
        ).alias("_t"),
    )
    joined = base.join(F.broadcast(rates), "domain")
    kept = bucket_hash(col("doc_id")) < col("_t")
    return (
        joined.groupBy("suffix")
        .agg(
            F.countDistinct("domain").alias("n_domains"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.max("_n").cast("long").alias("max_domain_docs"),
            F.countDistinct(
                F.when(col("_n") <= P20_TAIL_MAX_DOCS, col("domain"))
            ).alias("tail_domains"),
        )
        .select(
            "suffix",
            "n_domains",
            "n_docs",
            "n_kept",
            "max_domain_docs",
            "tail_domains",
            F.expr("(1000000 * max_domain_docs) div n_docs").alias(
                "head_ppm"
            ),
        )
    )


def _oracle_p20() -> str:
    from llamadb_spark.queries.pipeline_common import (
        ORACLE_URL_SEED,
        _oracle_domain_case,
        _oracle_host_expr,
    )

    host = _oracle_host_expr("url")
    return f"""
WITH urls AS ({ORACLE_URL_SEED}),
base AS (
  SELECT doc_id,
         {_oracle_domain_case(host, "domain")} AS domain,
         {_oracle_domain_case(host, "suffix")} AS suffix
  FROM urls
),
rates AS (
  SELECT domain, count(*) AS _n,
         least(1000, {1000 * P20_DOMAIN_CAP} // count(*)) AS _t
  FROM base GROUP BY domain
),
j AS (
  SELECT b.doc_id, b.domain, b.suffix, r._n, r._t,
         CASE WHEN ((b.doc_id % 100003) * 2654435761) % 1000 < r._t
              THEN 1 ELSE 0 END AS keep
  FROM base b JOIN rates r USING (domain)
),
agg AS (
  SELECT suffix, count(DISTINCT domain) AS n_domains,
         count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
         max(_n) AS max_domain_docs,
         count(DISTINCT CASE WHEN _n <= {P20_TAIL_MAX_DOCS}
                             THEN domain END) AS tail_domains
  FROM j GROUP BY suffix
)
SELECT suffix, n_domains, n_docs, n_kept, max_domain_docs,
       tail_domains, (1000000 * max_domain_docs) // n_docs AS head_ppm
FROM agg
"""


ORACLE_P20 = _oracle_p20()
