"""Text-analysis pipeline queries (SURVEY §2 t-rows): language ID,
quality scoring and filtering, token counting (whitespace + exact
BPE), fingerprints, vocabulary/collocation statistics, retrieval
(TF-IDF / BM25), corpus-health metrics. Split out of
queries/pipeline.py in round 9 (VERDICT r08 #8) — pure refactor; the
registry still lives in queries/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llamadb_spark.operators import dedup, multimodal, similarity, textops
from llamadb_spark.functions import text as text_fns
from llamadb_spark.functions.text import STOPWORDS
from llamadb_spark.session import stage

from llamadb_spark.queries.pipeline_common import (
    _docs,
    _emb,
    _rebalance,
    JACCARD_THRESHOLD,
    STOP_SHINGLE_DF,
    ORACLE_D02,
)


def t19_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective token yield per source: docs/tokens before and after
    lexical dedup (d07's survivor set) — the number a data team
    actually budgets with ("we crawled X tokens, Y survive dedup").
    Reuses the pair→CC drop list; token counts are the t03 whitespace
    contract. One extra left join + per-source aggregate on top of
    the dedup pipeline — the marginal cost of the report is one
    shuffle.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_ngram_pairs(
        docs, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    losers = cc.filter(col("node") != col("cluster_id")).select(
        col("node").alias("doc_id"), F.lit(1).alias("_drop")
    )
    ntok = F.size(F.filter(tokens(col("text")), lambda t: t != ""))
    base = docs.select("doc_id", "source", ntok.alias("n_tok")).join(
        losers, "doc_id", "left"
    )
    kept = col("_drop").isNull()
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_before"),
        F.sum(kept.cast("long")).alias("n_docs_after"),
        F.sum("n_tok").alias("tokens_before"),
        F.sum(F.when(kept, col("n_tok")).otherwise(0)).alias("tokens_after"),
        F.round(
            F.sum(F.when(kept, col("n_tok")).otherwise(0))
            / F.sum("n_tok").cast("double"),
            6,
        ).alias("token_yield"),
    )
ORACLE_T19_TEMPLATE = r"""
WITH RECURSIVE pairs AS (
  {d02}
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
cc AS (SELECT u AS node, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
losers AS (SELECT node FROM cc WHERE node <> cluster_id),
tok AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
)
SELECT source,
       count(*) AS n_docs_before,
       CAST(count(*) FILTER (doc_id NOT IN (SELECT node FROM losers))
            AS BIGINT) AS n_docs_after,
       CAST(sum(n_tok) AS BIGINT) AS tokens_before,
       CAST(coalesce(sum(n_tok) FILTER (doc_id NOT IN (SELECT node FROM losers)), 0)
            AS BIGINT) AS tokens_after,
       round(coalesce(sum(n_tok) FILTER (doc_id NOT IN (SELECT node FROM losers)), 0)
             / CAST(sum(n_tok) AS DOUBLE), 6) AS token_yield
FROM tok
GROUP BY source
"""
ORACLE_T19 = ORACLE_T19_TEMPLATE.replace("{d02}", ORACLE_D02)
# --- text analysis -------------------------------------------------------

def t01_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.language_id(_docs(spark, sf_dir))
def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"
_HITS = ", ".join(
    f"len(list_intersect(tk, {_sql_list(ws)})) AS hits_{lang}"
    for lang, ws in STOPWORDS.items()
)
_BEST = "greatest(hits_en, hits_de, hits_fr, hits_es)"
ORACLE_T01 = rf"""
WITH d AS (
  SELECT doc_id,
         list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS tk
  FROM documents
),
h AS (SELECT doc_id, {_HITS} FROM d)
SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN {_BEST} = 0 THEN 'und'
            WHEN hits_en = {_BEST} THEN 'en'
            WHEN hits_de = {_BEST} THEN 'de'
            WHEN hits_fr = {_BEST} THEN 'fr'
            WHEN hits_es = {_BEST} THEN 'es'
       END AS pred_lang
FROM h
"""
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(_docs(spark, sf_dir))
_EN = _sql_list(STOPWORDS["en"])
ORACLE_T02 = rf"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE) AS n_dis,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\s+')), {_EN})) AS DOUBLE) AS hits
  FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_dis AS BIGINT) AS n_distinct,
       round(n_punct / n_chars, 6) AS punct_ratio,
       round(hits / n_dis, 6) AS stop_ratio,
       round((n_dis / n_tok) * least(1.0, n_tok / 100.0)
             * (1 - n_punct / n_chars)
             * (0.5 + 0.5 * least(1.0, 4 * hits / n_dis)), 6) AS quality
FROM d
"""
def t20_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile stratification — the bucketing step of
    curriculum/quality-mixing pipelines (CCNet's perplexity buckets,
    quality-weighted sampling): per decile of the t02 quality score,
    document count and score stats.

    Scale note: NOT an ntile window — a global ntile funnels the
    whole corpus through one task. Instead: exact decile cut points
    via max-accuracy percentile_approx (one aggregation; at max
    accuracy it degenerates to the exact lower quantile, bit-equal
    to DuckDB's quantile_disc — the q53 precedent), broadcast the
    9-value array, assign buckets with a codegen'd array filter, and
    aggregate. Two shuffles total, no global sort.
    """
    from pyspark.sql.functions import broadcast, col

    q = textops.quality_score(_docs(spark, sf_dir)).select("doc_id", "quality")
    cuts = q.agg(
        F.percentile_approx(
            "quality", [i / 10.0 for i in range(1, 10)], 2147483647
        ).alias("cuts")
    )
    bucketed = q.crossJoin(broadcast(cuts)).select(
        "quality",
        (
            F.size(F.filter(col("cuts"), lambda c: c <= col("quality"))) + 1
        ).alias("decile"),
    )
    return bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
    )
ORACLE_T20_TEMPLATE = r"""
WITH scored AS (
  {t02}
),
cuts AS (
  SELECT quantile_disc(quality,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
  FROM scored
),
bucketed AS (
  SELECT quality,
         1 + len(list_filter(cuts, c -> c <= quality)) AS decile
  FROM scored, cuts
)
SELECT decile, count(*) AS n_docs,
       round(avg(quality), 6) AS avg_quality,
       round(min(quality), 6) AS min_quality,
       round(max(quality), 6) AS max_quality
FROM bucketed
GROUP BY decile
"""
ORACLE_T20 = ORACLE_T20_TEMPLATE.replace("{t02}", ORACLE_T02)
def t03_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(_docs(spark, sf_dir))
ORACLE_T03 = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""
def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprints(_docs(spark, sf_dir))
ORACLE_T04 = r"""
WITH f AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5
  FROM documents
)
SELECT doc_id, fp_md5,
       CAST(concat('0x', substr(fp_md5, 1, 15)) AS BIGINT) AS fp64
FROM f
"""
def t05_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.vocab_topk(_docs(spark, sf_dir), k=100)
ORACLE_T05 = r"""
SELECT token, count(*) AS df FROM (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
) t
WHERE token <> ''
GROUP BY token
ORDER BY df DESC, token
LIMIT 100
"""
def t06_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_ratio(_docs(spark, sf_dir))
ORACLE_T06 = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
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
dcount AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY 1),
tot AS (SELECT doc_id, greatest(len(tk) - 2, 0) AS n_shingles FROM toks)
SELECT t.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n_distinct, 0) AS BIGINT) AS n_distinct,
       CASE WHEN n_shingles > 0
            THEN round(1.0 - coalesce(n_distinct, 0)
                       / CAST(n_shingles AS DOUBLE), 6)
            ELSE 0.0 END AS rep_ratio
FROM tot t LEFT JOIN dcount d USING (doc_id)
"""
def t07_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.scrub_pii(_docs(spark, sf_dir))
ORACLE_T07 = r"""
WITH s AS (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
           '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(text,
         '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones,
       CAST(length(clean) AS BIGINT) AS clean_chars,
       sha256(clean) AS clean_sha
FROM s
"""
CHUNK_SIZE, CHUNK_STRIDE = 400, 300
def t08_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.chunk_documents(
        _docs(spark, sf_dir), size=CHUNK_SIZE, stride=CHUNK_STRIDE
    )
ORACLE_T08 = f"""
WITH ks AS (
  SELECT doc_id, text,
         unnest(generate_series(0,
           greatest(CAST(floor((length(text) - 1) / {CHUNK_STRIDE}) AS INT), 0)))
           AS k
  FROM documents
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_id,
       CAST(length(substr(text, 1 + k * {CHUNK_STRIDE}, {CHUNK_SIZE})) AS BIGINT)
         AS chunk_chars,
       sha256(substr(text, 1 + k * {CHUNK_STRIDE}, {CHUNK_SIZE})) AS chunk_sha
FROM ks
"""
#: Query terms for the TF-IDF retrieval baseline — mid-frequency
#: corpus vocabulary so scores spread meaningfully.
TFIDF_QUERY = ["data", "join", "stream", "filter"]
TFIDF_K = 20
def t09_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.tfidf_topk(_docs(spark, sf_dir), TFIDF_QUERY, k=TFIDF_K)
ORACLE_T09 = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN ({", ".join(repr(t) for t in TFIDF_QUERY)})
  GROUP BY 1, 2
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, count(*) AS n_terms,
       round(sum(tf * ln((n_docs + 1) / (df + 1.0))), 6) AS score
FROM tf JOIN df USING (token), n
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {TFIDF_K}
"""
#: RRF fusion constant (the standard 60 from Cormack et al.) and
#: retrieval depths for the hybrid key.
RRF_K = 60
HYBRID_POOL = 50
HYBRID_TOPK = 20
def t27_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.bm25_topk(_docs(spark, sf_dir), TFIDF_QUERY, k=TFIDF_K)
def _bm25_sql(limit: int) -> str:
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS token
  FROM documents
),
dl AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '')) AS dlen
  FROM documents
),
a AS (SELECT avg(dlen) AS avgdl FROM dl),
n AS (SELECT count(*) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks
  WHERE token IN ({", ".join(repr(t) for t in TFIDF_QUERY)})
  GROUP BY 1, 2
),
df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
SELECT tf.doc_id AS doc_id, count(*) AS n_terms,
       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl))),
             6) AS bm25
FROM tf JOIN df USING (token) JOIN dl USING (doc_id), a, n
GROUP BY tf.doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {limit}
"""
ORACLE_T27 = _bm25_sql(TFIDF_K)
def t10_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus entropy profile: per-doc unigram Shannon entropy
    (operators/textops.py token_entropy), rolled up per language.
    Low-entropy languages flag template-heavy slices of the corpus."""
    ent = textops.token_entropy(_docs(spark, sf_dir), carry_cols=("lang",))
    return (
        ent.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("entropy"), 6).alias("avg_entropy"),
            F.round(F.min("entropy"), 6).alias("min_entropy"),
            F.round(F.max("entropy"), 6).alias("max_entropy"),
        )
    )
ORACLE_T10 = r"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
), tc AS (
  SELECT doc_id, lang, token, count(*) AS c
  FROM tok WHERE token <> ''
  GROUP BY doc_id, lang, token
), ent AS (
  SELECT doc_id, lang,
         ln(sum(c)) - sum(c * ln(c)) / sum(c) AS entropy
  FROM tc GROUP BY doc_id, lang
)
SELECT lang, count(*) AS n_docs,
       round(avg(entropy), 6) AS avg_entropy,
       round(min(entropy), 6) AS min_entropy,
       round(max(entropy), 6) AS max_entropy
FROM ent GROUP BY lang
"""
def t11_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval confusion matrix: actual corpus language vs
    the stopword-heuristic prediction (t01), with per-actual-language
    share. The standard quality-eval rollup a pipeline runs after any
    heuristic labeler.

    Scale: the prediction is computed per-row in the same scan as the
    actual label (no join — language_id carries lang through), so the
    only shuffle is the tiny (lang × pred_lang) aggregation.
    """
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    pred = textops.language_id(docs, id_col="doc_id", carry_cols=("lang",))
    per_pair = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    from pyspark.sql.window import Window

    total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return per_pair.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / total, 6).alias("share_of_actual"),
    )
ORACLE_T11 = f"""
WITH pred AS ({ORACLE_T01}),
pairs AS (
  SELECT d.lang, p.pred_lang, count(*) AS n_docs
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.pred_lang
)
SELECT lang, pred_lang, n_docs,
       round(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE),
             6) AS share_of_actual
FROM pairs
"""
PMI_MIN_COUNT = 5
PMI_K = 20
def t12_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram PMI collocation ranking (operators/textops.py
    pmi_collocations)."""
    return textops.pmi_collocations(
        _docs(spark, sf_dir), min_count=PMI_MIN_COUNT, k=PMI_K
    )
ORACLE_T12 = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i FROM toks
),
bi AS (
  SELECT a.w || ' ' || b.w AS bigram
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
bic AS (
  SELECT bigram, count(*) AS c_ab FROM bi
  GROUP BY 1 HAVING count(*) >= {PMI_MIN_COUNT}
),
uni AS (SELECT w, count(*) AS c_w FROM pos GROUP BY 1),
tot AS (SELECT CAST(sum(c_w) AS DOUBLE) AS n_total FROM uni)
SELECT bigram, c_ab, u1.c_w AS c_1, u2.c_w AS c_2,
       round(ln(c_ab * n_total)
             - ln(CAST(u1.c_w AS DOUBLE) * u2.c_w), 6) AS pmi
FROM bic, tot
JOIN uni u1 ON u1.w = string_split(bigram, ' ')[1]
JOIN uni u2 ON u2.w = string_split(bigram, ' ')[2]
ORDER BY pmi DESC, bigram
LIMIT {PMI_K}
"""
def t14_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.unigram_logprob(_docs(spark, sf_dir))
ORACLE_T14 = r"""
WITH toks AS (
  SELECT doc_id, t.tok AS token
  FROM documents,
       unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(tok)
),
counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
probs AS (
  SELECT token, c / CAST((SELECT sum(c) FROM counts) AS DOUBLE) AS p
  FROM counts
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln(p)), 6) AS avg_logprob
FROM toks JOIN probs USING (token)
GROUP BY doc_id
"""
def t16_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.bigram_logprob(_docs(spark, sf_dir))
ORACLE_T16 = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
bis AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram, t[i] AS w1
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
cab AS (SELECT bigram, count(*) AS c_ab FROM bis GROUP BY 1),
ca AS (SELECT w1, count(*) AS c_a FROM bis GROUP BY 1),
probs AS (
  SELECT bigram, c_ab / CAST(c_a AS DOUBLE) AS p
  FROM cab JOIN ca ON ca.w1 = string_split(cab.bigram, ' ')[1]
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln(p)), 6) AS avg_logprob
FROM bis JOIN probs USING (bigram)
GROUP BY doc_id
"""
ZIPF_TOP_N = 100
def t17_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-100 token frequencies: OLS slope of
    ln(freq) against ln(rank). Natural-language corpora sit near
    slope -1; a corpus drifting toward 0 is template/boilerplate
    heavy, steeper than -1.2 means a truncated/duplicated head — a
    one-number corpus-health gauge (Zipf 1949; used as a quality
    probe in corpus curation).

    One token-count aggregation (map-side combined), a DISTRIBUTED
    top-100 (orderBy+limit plans as TakeOrdered — per-partition
    heaps, never a vocabulary-sized single-partition sort; a global
    row_number window here would funnel the whole vocab through one
    task at 100 TB), then a rank window over just the 100 survivors
    and regr_slope/regr_r2 — all JVM built-ins.
    """
    from pyspark.sql.window import Window

    from llamadb_spark.functions.text import tokens

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    top100 = counts.orderBy(F.col("c").desc(), F.col("token")).limit(ZIPF_TOP_N)
    w = Window.orderBy(F.col("c").desc(), F.col("token"))
    top = top100.withColumn("rank", F.row_number().over(w))
    return top.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.round(
            F.expr("regr_slope(ln(c), ln(rank))"), 6
        ).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(c), ln(rank))"), 6).alias("fit_r2"),
    )
ORACLE_T17 = rf"""
WITH toks AS (
  SELECT t.tok AS token
  FROM documents,
       unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(tok)
),
counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
top AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rank
  FROM counts QUALIFY rank <= {ZIPF_TOP_N}
)
SELECT count(*) AS n_fit,
       round(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
       round(regr_r2(ln(c), ln(rank)), 6) AS fit_r2
FROM top
"""
KEYWORDS_PER_DOC = 3
def t15_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-k tokens by TF-IDF
    within each document (rarity-weighted salience — the zero-model
    keyword baseline). One explode → tf counts, a df-table join, then
    a per-doc window rank. Deterministic tiebreak on the token string
    so retries can't flip keywords.

    Scale: the df table is the FULL corpus vocabulary — billions of
    distinct tokens at 100 TB (typos, numerals, code) — so it is
    never broadcast-hinted; the tf↔df join shuffles on token (both
    sides already derive from the same explode) and AQE can still
    broadcast when the vocabulary is genuinely small. Only the
    one-row n_docs scalar keeps an explicit broadcast. Contrast
    tfidf_topk (textops.py), whose df table is query-term-bounded
    and therefore safely hinted.

    Output: (doc_id, kw_rank, token, tfidf).
    """
    from pyspark.sql.functions import broadcast, col
    from pyspark.sql.window import Window

    from llamadb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(tokens(col("text"))).alias("token")
    ).filter(col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_tab, "token")
        .crossJoin(broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(col("tf") * F.log((col("n_docs") + 1) / (col("df") + 1)), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        col("tfidf").desc(), col("token")
    )
    return (
        scored.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(col("kw_rank") <= KEYWORDS_PER_DOC)
        .select("doc_id", "kw_rank", "token", "tfidf")
    )
ORACLE_T15 = rf"""
WITH toks AS (
  SELECT doc_id, t.tok AS token
  FROM documents,
       unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(tok)
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfs AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, token,
         round(tf * ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfs USING (token) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS kw_rank
  FROM scored
)
SELECT doc_id, kw_rank, token, tfidf
FROM ranked WHERE kw_rank <= {KEYWORDS_PER_DOC}
"""
T13_SUPPORT = 0.02
def t13_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters with a driver-attestable contract:
    the output is the EXACT heavy-hitter set (token + exact count,
    both DuckDB-recomputable) plus an ``in_sketch`` boolean per row —
    the sketch's one-sided guarantee (every token with frequency >
    support IS surfaced) becomes the hash-matched value. The oracle
    recomputes the exact set and claims TRUE; a missed heavy hitter
    flips the boolean and fails the hash. False positives riding
    along in the sketch are permitted by the guarantee and don't
    appear in the output."""
    from pyspark.sql.functions import broadcast, col

    from llamadb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    cand = textops.heavy_hitter_tokens(docs, support=T13_SUPPORT)
    tok = docs.select(F.explode(tokens(col("text"))).alias("token")).filter(
        col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_count"))
    total = counts.agg(F.sum("exact_count").alias("total"))
    heavy = counts.crossJoin(broadcast(total)).filter(
        col("exact_count") > T13_SUPPORT * col("total")
    )
    return (
        heavy.join(
            cand.withColumn("in_sketch", F.lit(True)), "token", "left"
        )
        .select(
            "token",
            "exact_count",
            F.coalesce("in_sketch", F.lit(False)).alias("in_sketch"),
        )
    )
ORACLE_T13 = rf"""
WITH toks AS (
  SELECT t.tok AS token
  FROM documents,
       unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                          x -> x <> '')) AS t(tok)
),
cnt AS (SELECT token, count(*) AS exact_count FROM toks GROUP BY token),
tot AS (SELECT sum(exact_count) AS total FROM cnt)
SELECT token, exact_count, TRUE AS in_sketch
FROM cnt CROSS JOIN tot
WHERE exact_count > {T13_SUPPORT} * total
"""
def t21_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap: Jaccard similarity of the
    DISTINCT token sets of every source pair — the redundancy
    diagnostic a corpus-mixing plan starts from (two crawls with 0.9
    vocabulary Jaccard contribute far less than their size suggests).

    Scale: one distinct over (source, token) — the only corpus-sized
    shuffle; the intersection self-join fans out per token only to
    the sources containing it (≤ n_sources rows a side), so pair
    volume is bounded by n_sources² per token, never doc-count². Per
    -source set sizes ride a broadcast join onto the ≤ n_sources²
    pair rows. Top-10 most-overlapping pairs, deterministic order.
    """
    from pyspark.sql.functions import broadcast, col

    tok = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(text_fns.tokens(col("text"))).alias("token"),
        )
        .filter(col("token") != "")
        .distinct()
    )
    tok, _ = stage(tok)  # two consumers: sizes + the self-join
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    a = tok.select(col("source").alias("src_a"), "token")
    b = tok.select(col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            broadcast(sizes.select(col("source").alias("src_a"), col("n_tok").alias("n_a"))),
            "src_a",
        )
        .join(
            broadcast(sizes.select(col("source").alias("src_b"), col("n_tok").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 6
            ).alias("jaccard"),
        )
        .orderBy(col("jaccard").desc(), "src_a", "src_b")
        .limit(10)
    )
ORACLE_T21 = r"""
WITH tok AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
clean AS (SELECT source, token FROM tok WHERE token <> ''),
sizes AS (SELECT source, count(*) AS n_tok FROM clean GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM clean a JOIN clean b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       round(CAST(n_common AS DOUBLE)
             / (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY jaccard DESC, src_a, src_b
LIMIT 10
"""
def t22_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-drift diagnostic: Jensen-Shannon divergence between
    each source's unigram distribution and the whole-corpus
    distribution — the quantitative form of "does this crawl look
    like the rest of my data" (0 = identical mix, ln 2 = disjoint
    vocabularies). The metric mixture-rebalancing and dedup-budget
    decisions key off.

    Scale: token counts aggregate map-side; the per-source KL terms
    need every (source, vocab-token) cell, built as sources × vocab
    (|vocab|·n_sources rows — vocabulary-bounded like t14/t15, no
    broadcast hints, AQE picks the join strategy); one final
    per-source sum. All logs are JVM-side ln.
    """
    from pyspark.sql.functions import col

    tok = (
        _docs(spark, sf_dir)
        .select("source", F.explode(text_fns.tokens(col("text"))).alias("token"))
        .filter(col("token") != "")
    )
    # consumers: per-source counts + vocab; the staging job's observed
    # row count is the corpus token total
    tok, observed = stage(tok)
    c_st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_st"))
    n_s = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    c_t = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c_t"))
    n_total = observed["n"]

    # every (source, vocab token) cell: p may be 0 where a source
    # lacks a corpus token (its KL(P||M) term is 0); q is always > 0
    cells = (
        n_s.crossJoin(c_t)
        .join(c_st, ["source", "token"], "left")
        .select(
            "source",
            (F.coalesce(col("c_st"), F.lit(0)) / col("n_s")).alias("p"),
            (col("c_t") / F.lit(float(n_total))).alias("q"),
        )
        .withColumn("m", (col("p") + col("q")) / 2)
    )
    # Determinism (the d16/s14 discipline): per-cell KL terms are
    # quantized to integer micro-nats and summed as exact longs — a
    # double Σ over |vocab|·n_sources cells is partition-order
    # dependent in the last ulp, which can flip the 6dp round. The
    # per-cell term is a pure function of exact counts (identical
    # doubles both engines, ln agrees to ≤1 ulp), so the floor to a
    # 1e-6 grid is stable; the quantization shifts js by at most
    # |vocab|·5e-7, identically on both sides.
    kl_terms = cells.select(
        "source",
        F.floor(
            F.when(col("p") > 0, col("p") * F.log(col("p") / col("m")))
            .otherwise(F.lit(0.0))
            * 1e6
        )
        .cast("long")
        .alias("kl_p_u"),
        F.floor(col("q") * F.log(col("q") / col("m")) * 1e6)
        .cast("long")
        .alias("kl_q_u"),
    )
    return kl_terms.groupBy("source").agg(
        F.round((F.sum("kl_p_u") + F.sum("kl_q_u")) / 2e6, 6).alias(
            "js_divergence"
        )
    )
ORACLE_T22 = r"""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
clean AS (SELECT source, token FROM tok WHERE token <> ''),
c_st AS (SELECT source, token, count(*) AS c_st FROM clean GROUP BY 1, 2),
n_s AS (SELECT source, count(*) AS n_s FROM clean GROUP BY 1),
c_t AS (SELECT token, count(*) AS c_t FROM clean GROUP BY 1),
tot AS (SELECT count(*) AS n FROM clean),
cells AS (
  SELECT n_s.source,
         coalesce(c_st.c_st, 0) / CAST(n_s.n_s AS DOUBLE) AS p,
         c_t.c_t / CAST(tot.n AS DOUBLE) AS q
  FROM n_s CROSS JOIN c_t CROSS JOIN tot
  LEFT JOIN c_st ON c_st.source = n_s.source AND c_st.token = c_t.token
),
terms AS (
  SELECT source,
         CAST(floor((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
                          ELSE 0.0 END) * 1000000.0) AS BIGINT) AS kl_p_u,
         CAST(floor(q * ln(q / ((p + q) / 2)) * 1000000.0) AS BIGINT) AS kl_q_u
  FROM cells
)
SELECT source, round((sum(kl_p_u) + sum(kl_q_u)) / 2000000.0, 6)
       AS js_divergence
FROM terms
GROUP BY source
"""
def t23_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility proxy per language: UTF-8 bytes per
    whitespace token — the compression-rate signal that decides how
    much raw text a language needs per training token (scripts that
    tokenize poorly burn budget). One scan, per-doc byte and token
    counts via built-ins, one per-language aggregate.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "lang",
        F.octet_length(F.encode(col("text"), "UTF-8")).alias("n_bytes"),
        F.size(F.filter(text_fns.tokens(col("text")), lambda x: x != "")).alias(
            "n_tok"
        ),
    ).filter(col("n_tok") > 0)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.sum("n_bytes") / F.sum("n_tok"), 6).alias(
            "bytes_per_token"
        ),
    )
ORACLE_T23 = r"""
WITH per_doc AS (
  SELECT lang,
         octet_length(encode(text)) AS n_bytes,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x <> '')) AS n_tok
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(sum(n_bytes) / CAST(sum(n_tok) AS DOUBLE), 6) AS bytes_per_token
FROM per_doc
WHERE n_tok > 0
GROUP BY lang
"""
def t24_quality_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-band census (the CCNet bucketing step): documents
    and token mass per 0.25-nat band of unigram log-prob — the table
    a quality-filtered training mix is budgeted from ("keep the top
    two bands, sample the middle, drop the tail"). Bands come from
    t14's per-doc scores; both engines round scores to 6dp first, so
    band edges agree exactly.
    """
    from pyspark.sql.functions import col

    scored = textops.unigram_logprob(_docs(spark, sf_dir))
    band = F.round(F.floor(col("avg_logprob") * 4) / 4, 2)
    return scored.groupBy(band.alias("lp_band")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
ORACLE_T24 = f"""
WITH scored AS (
{ORACLE_T14}
)
SELECT round(floor(avg_logprob * 4) / 4, 2) AS lp_band,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM scored GROUP BY 1
"""
def t25_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve (Heaps'-law view): processing sources
    in a fixed (lexicographic) order, how many DISTINCT tokens does
    each source add that no earlier source contained — the marginal
    novelty a new crawl contributes, which is what decides whether
    ingesting it is worth the compute. A flat tail means new sources
    re-tread the same vocabulary (redundant with t21's pairwise
    overlap; this is the cumulative view).

    Scale: one (token → first source) aggregate over the distinct
    (source, token) set — first-occurrence attribution is min(source)
    per token, one shuffle, no per-prefix rescans.
    """
    from pyspark.sql.functions import col

    tok = (
        _docs(spark, sf_dir)
        .select("source", F.explode(text_fns.tokens(col("text"))).alias("token"))
        .filter(col("token") != "")
        .distinct()
    )
    first = tok.groupBy("token").agg(F.min("source").alias("source"))
    per_src = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    new = first.groupBy("source").agg(F.count(F.lit(1)).alias("n_new"))
    return (
        per_src.join(new, "source", "left")
        .select(
            "source",
            "n_vocab",
            F.coalesce(col("n_new"), F.lit(0)).alias("n_new_tokens"),
        )
    )
ORACLE_T25 = r"""
WITH tok AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
),
clean AS (SELECT source, token FROM tok WHERE token <> ''),
first AS (SELECT token, min(source) AS source FROM clean GROUP BY token),
per_src AS (SELECT source, count(*) AS n_vocab FROM clean GROUP BY source),
new AS (SELECT source, count(*) AS n_new FROM first GROUP BY source)
SELECT p.source, p.n_vocab, coalesce(n.n_new, 0) AS n_new_tokens
FROM per_src p LEFT JOIN new n ON n.source = p.source
"""
#: t26 ratio band: measured zlib ratios at sf0.001-0.1 span
#: [0.39, 1.02] (a 48-byte doc can exceed 1.0 from header overhead);
#: [0.2, 1.05] leaves margin both sides, and every doc >= 200 raw
#: bytes compresses strictly below 1.0. zlib level 6 is
#: deterministic, so the booleans are stable at a given SF.
T26_RATIO_LO = 0.2
T26_RATIO_HI = 1.05
T26_LONG_DOC_BYTES = 200
def t26_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal with a driver-attestable
    banded contract: per non-empty document, the exact-computable raw
    byte length (DuckDB: octet_length(encode(text))) plus booleans
    attesting the ratio sits in the sane-text band and that every
    long document actually compresses (< 1.0) — the Gopher-style
    filter's operating assumptions. Raw ratios stay available via
    operators/textops.compression_ratio (bounds/monotonicity tests in
    tests/test_text.py)."""
    from pyspark.sql.functions import col

    cr = textops.compression_ratio(_docs(spark, sf_dir))
    return cr.select(
        "doc_id",
        "n_raw_bytes",
        (
            (col("zlib_ratio") > T26_RATIO_LO)
            & (col("zlib_ratio") < T26_RATIO_HI)
        ).alias("ratio_in_band"),
        (
            (col("n_raw_bytes") < T26_LONG_DOC_BYTES)
            | (col("zlib_ratio") < 1.0)
        ).alias("long_docs_compress"),
    )
ORACLE_T26 = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_raw_bytes,
       TRUE AS ratio_in_band,
       TRUE AS long_docs_compress
FROM documents
WHERE length(text) > 0
"""
#: t28: fastText-style linear quality scorer — PUBLIC-IN-CODE integer
#: micro-unit weights over the corpus vocabulary (single source of
#: truth for both the Spark literal map and the oracle's VALUES
#: table). Content/operator terms score positive, filler and junk
#: markers negative; the bias demands enough positive mass per doc.
T28_WEIGHTS_MICRO = {
    "query": 220_000, "join": 200_000, "hash": 180_000,
    "scan": 160_000, "merge": 170_000, "sort": 150_000,
    "filter": 190_000, "group": 140_000, "agg": 210_000,
    "window": 230_000, "stream": 120_000, "table": 110_000,
    "column": 130_000, "row": 90_000, "vector": 240_000,
    "batch": 100_000, "key": 80_000, "value": 70_000,
    "data": 60_000, "line": 50_000, "order": 95_000,
    "part": 85_000, "customer": 75_000, "spark": 250_000,
    "fast": 150_000, "big": -100_000, "small": -100_000,
    "slow": -600_000, "the": -400_000, "a": -350_000,
    "dup": -2_000_000,
}
T28_BIAS_MICRO = -6_500_000
def t28_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (VERDICT r06 #6): logistic-
    regression document scorer evaluated as an exact BIGINT dot
    product of token counts with integer-quantized weights — the
    public fastText/CCNet quality-classifier recipe, with zero
    Python in the hot path and no float-summation-order hazard."""
    return textops.linear_quality_score(
        _docs(spark, sf_dir),
        weights_micro=T28_WEIGHTS_MICRO,
        bias_micro=T28_BIAS_MICRO,
    )
_T28_VALUES = ", ".join(
    f"('{t}', {w})" for t, w in sorted(T28_WEIGHTS_MICRO.items())
)
ORACLE_T28 = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
),
w AS (SELECT * FROM (VALUES {_T28_VALUES}) AS t(tok, w_micro))
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(coalesce(w.w_micro, 0)) + {T28_BIAS_MICRO} AS BIGINT)
         AS logit_micro,
       (sum(coalesce(w.w_micro, 0)) + {T28_BIAS_MICRO}) > 0 AS is_quality
FROM toks LEFT JOIN w USING (tok)
GROUP BY doc_id
"""
#: t29 Gopher repetition gates (Rae et al. 2021 Table A1, public):
#: a doc fails if the most common word 2/3/4-gram covers more than
#: 20/18/16% of its characters, or duplicated 5-grams more than 15%.
#: Fractions are exact integer PARTS-PER-MILLION (BIGINT `div`) so
#: the hash oracle never sees a float.
T29_TOP_PPM = {2: 200_000, 3: 180_000, 4: 160_000}
T29_DUP5_PPM = 150_000
def t29_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style n-gram repetition signals (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A1 — public):
    per document, the character share of the MOST COMMON word
    2/3/4-gram and the EXCESS character mass of duplicated 5-grams
    ((count-1)·gram_chars — the documented simplification of the
    paper's overlap-deduplicated character count; the union-of-
    occurrence-intervals form is what operators/spans.py computes at
    span granularity), each as exact integer ppm of doc chars, plus
    the pass/fail gate at the published thresholds. Complements t06
    (single-n dup-shingle ratio) with the actual multi-n published
    filter set.

    Scale: token arrays built once per doc; n-grams via
    transform/slice (JVM higher-order fns, no explode join-back);
    per-(doc, n) tops via one aggregate over exploded grams — all
    shuffles keyed by doc_id with map-side combine. No Python, no
    floats.
    """
    from pyspark.sql.functions import col

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.split(F.trim(F.lower(col("text"))), r"\s+").alias("tk"),
    )

    def grams(n: int):
        # Guard: Spark's sequence(1, 0) is DESCENDING [1, 0], and
        # slice(tk, 0, n) then throws INVALID_PARAMETER_VALUE.START —
        # any doc with fewer than n whitespace tokens would kill the
        # query. DuckDB's generate_series(1, 0) is empty, so the
        # guarded form also restores cross-engine agreement.
        return toks.select(
            "doc_id",
            "n_chars",
            F.lit(n).alias("n"),
            F.explode(
                F.expr(
                    f"transform("
                    f" if(size(tk) >= {n}, sequence(1, size(tk)-{n-1}),"
                    f"    cast(array() as array<int>)),"
                    f" i -> concat_ws(' ', slice(tk, i, {n})))"
                )
            ).alias("gram"),
        )

    counts = (
        grams(2).unionByName(grams(3)).unionByName(grams(4))
        .unionByName(grams(5))
        .groupBy("doc_id", "n_chars", "n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("gchars", F.length("gram").cast("long"))
    )
    # top n-gram per (doc, n) for n in 2..4: max by (cnt, gram) —
    # deterministic tie-break on the gram text
    top = (
        counts.filter(col("n") <= 4)
        .groupBy("doc_id", "n_chars", "n")
        .agg(
            F.max(F.struct("cnt", "gram", "gchars")).alias("t")
        )
        .select(
            "doc_id",
            "n",
            F.expr("(t.cnt * t.gchars * 1000000) div n_chars").alias("ppm"),
        )
    )
    dup5 = (
        counts.filter((col("n") == 5) & (col("cnt") >= 2))
        .groupBy("doc_id", "n_chars")
        .agg(F.sum((col("cnt") - 1) * col("gchars")).alias("dupchars"))
        .select(
            "doc_id",
            F.expr("(dupchars * 1000000) div n_chars").alias("dup5_ppm"),
        )
    )
    wide = (
        top.groupBy("doc_id")
        .pivot("n", [2, 3, 4])
        .agg(F.first("ppm"))
        .select(
            "doc_id",
            F.coalesce(col("2"), F.lit(0)).alias("top2_ppm"),
            F.coalesce(col("3"), F.lit(0)).alias("top3_ppm"),
            F.coalesce(col("4"), F.lit(0)).alias("top4_ppm"),
        )
    )
    return (
        docs.select("doc_id")
        .join(wide, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(col("top2_ppm"), F.lit(0)).alias("top2_ppm"),
            F.coalesce(col("top3_ppm"), F.lit(0)).alias("top3_ppm"),
            F.coalesce(col("top4_ppm"), F.lit(0)).alias("top4_ppm"),
            F.coalesce(col("dup5_ppm"), F.lit(0)).alias("dup5_ppm"),
        )
        .withColumn(
            "passes_gopher",
            (col("top2_ppm") <= T29_TOP_PPM[2])
            & (col("top3_ppm") <= T29_TOP_PPM[3])
            & (col("top4_ppm") <= T29_TOP_PPM[4])
            & (col("dup5_ppm") <= T29_DUP5_PPM),
        )
    )
ORACLE_T29 = f"""
WITH base AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         string_split_regex(trim(lower(text)), '\\s+') AS tk
  FROM documents
),
g AS (
  SELECT doc_id, n_chars, n.n,
         array_to_string(tk[i:i+n.n-1], ' ') AS gram
  FROM base,
       (SELECT unnest([2, 3, 4, 5]) AS n) AS n,
       unnest(generate_series(1, greatest(len(tk) - n.n + 1, 0))) AS t(i)
),
counts AS (
  SELECT doc_id, n_chars, n, gram, count(*) AS cnt,
         CAST(length(gram) AS BIGINT) AS gchars
  FROM g GROUP BY ALL
),
top AS (
  SELECT doc_id, n, (cnt * gchars * 1000000) // n_chars AS ppm
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                 ORDER BY cnt DESC, gram DESC) AS rn
    FROM counts WHERE n <= 4
  ) WHERE rn = 1
),
dup5 AS (
  SELECT doc_id,
         (sum((cnt - 1) * gchars) * 1000000) // any_value(n_chars)
           AS dup5_ppm
  FROM counts WHERE n = 5 AND cnt >= 2 GROUP BY doc_id
),
wide AS (
  SELECT doc_id,
         coalesce(max(ppm) FILTER (n = 2), 0) AS top2_ppm,
         coalesce(max(ppm) FILTER (n = 3), 0) AS top3_ppm,
         coalesce(max(ppm) FILTER (n = 4), 0) AS top4_ppm
  FROM top GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(coalesce(w.top2_ppm, 0) AS BIGINT) AS top2_ppm,
       CAST(coalesce(w.top3_ppm, 0) AS BIGINT) AS top3_ppm,
       CAST(coalesce(w.top4_ppm, 0) AS BIGINT) AS top4_ppm,
       CAST(coalesce(d.dup5_ppm, 0) AS BIGINT) AS dup5_ppm,
       (coalesce(w.top2_ppm, 0) <= {T29_TOP_PPM[2]}
        AND coalesce(w.top3_ppm, 0) <= {T29_TOP_PPM[3]}
        AND coalesce(w.top4_ppm, 0) <= {T29_TOP_PPM[4]}
        AND coalesce(d.dup5_ppm, 0) <= {T29_DUP5_PPM}) AS passes_gopher
FROM base b
LEFT JOIN wide w USING (doc_id)
LEFT JOIN dup5 d USING (doc_id)
"""
def t30_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BPE token counts per document (VERDICT r08 #2 — the
    budget currency t03's whitespace/regex counts approximate; the
    two diverge 30-50% on web text). Sennrich et al. 2016 encode,
    expressed as a rank-ordered chain of built-in string replaces
    over a ``|tok~`` rendering (see operators/bpe.py for the two
    public equivalences that make this exact), run ONCE per distinct
    word and joined back — |vocab| encodes for a trillion-token
    corpus. Output: (doc_id, n_words, bpe_tokens, ws_tokens), all
    exact BIGINTs; the oracle runs the identical replace chain in
    DuckDB, generated from the same merge table.

    Scale: explode→per-(doc,word) count (map-side combine) →
    vocab-bounded encode → word-keyed join-back (AQE-skew-splittable)
    → per-doc sum (map-side combine). No Python, no windows; the
    encode chain is whole-stage codegen."""
    from llamadb_spark.operators.bpe import bpe_token_counts

    return bpe_token_counts(_docs(spark, sf_dir))
def _oracle_t30() -> str:
    from llamadb_spark.operators.bpe import WORD_SPLIT, bpe_encode_sql

    enc = bpe_encode_sql("word")
    return f"""
WITH words AS (
  SELECT doc_id, w AS word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '{WORD_SPLIT}')) AS w
    FROM documents
  ) WHERE w <> ''
),
per_word AS (
  SELECT doc_id, word, count(*) AS n_occ FROM words GROUP BY ALL
),
vocab AS (
  SELECT word,
         CAST(length(enc) - length(replace(enc, '|', '')) AS BIGINT)
           AS n_tok
  FROM (SELECT DISTINCT word, {enc} AS enc FROM per_word)
),
per_doc AS (
  SELECT p.doc_id,
         CAST(sum(p.n_occ) AS BIGINT) AS n_words,
         CAST(sum(p.n_occ * v.n_tok) AS BIGINT) AS bpe_tokens
  FROM per_word p JOIN vocab v USING (word) GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.bpe_tokens, 0) AS bpe_tokens,
       CAST(len(string_split_regex(trim(lower(d.text)), '\\s+'))
            AS BIGINT) AS ws_tokens
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""
ORACLE_T30 = _oracle_t30()


def t31_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility in the REAL currency: UTF-8 bytes per
    exact BPE token per language, alongside the BPE-per-whitespace
    blowup factor — the pair that converts a raw-bytes corpus budget
    into trainable tokens (t23 is the whitespace PROXY; the two
    diverge exactly where subword tokenizers split hardest, which is
    what this key measures). One scan for bytes + the t30 vocab-
    bounded encode; one per-language aggregate.
    """
    from pyspark.sql.functions import col

    from llamadb_spark.operators.bpe import bpe_token_counts

    docs = _docs(spark, sf_dir)
    counts = bpe_token_counts(docs)
    per_doc = (
        docs.select(
            "doc_id",
            "lang",
            F.octet_length(F.encode(col("text"), "UTF-8")).alias("n_bytes"),
        )
        .join(counts, "doc_id")
        .filter(col("bpe_tokens") > 0)
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.round(F.sum("n_bytes") / F.sum("bpe_tokens"), 6).alias(
            "bytes_per_bpe_token"
        ),
        F.round(F.sum("bpe_tokens") / F.sum("ws_tokens"), 6).alias(
            "bpe_per_ws_token"
        ),
    )


def _oracle_t31() -> str:
    from llamadb_spark.operators.bpe import WORD_SPLIT, bpe_encode_sql

    enc = bpe_encode_sql("word")
    return f"""
WITH words AS (
  SELECT doc_id, w AS word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '{WORD_SPLIT}')) AS w
    FROM documents
  ) WHERE w <> ''
),
per_word AS (
  SELECT doc_id, word, count(*) AS n_occ FROM words GROUP BY ALL
),
vocab AS (
  SELECT word,
         CAST(length(enc) - length(replace(enc, '|', '')) AS BIGINT)
           AS n_tok
  FROM (SELECT DISTINCT word, {enc} AS enc FROM per_word)
),
per_doc AS (
  SELECT p.doc_id,
         CAST(sum(p.n_occ * v.n_tok) AS BIGINT) AS bpe_tokens
  FROM per_word p JOIN vocab v USING (word) GROUP BY p.doc_id
)
SELECT d.lang, count(*) AS n_docs,
       CAST(sum(octet_length(encode(d.text))) AS BIGINT) AS total_bytes,
       CAST(sum(p.bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(len(string_split_regex(trim(lower(d.text)), '\\s+')))
            AS BIGINT) AS total_ws_tokens,
       round(sum(octet_length(encode(d.text)))
             / CAST(sum(p.bpe_tokens) AS DOUBLE), 6)
         AS bytes_per_bpe_token,
       round(sum(p.bpe_tokens)
             / CAST(sum(len(string_split_regex(trim(lower(d.text)),
                                               '\\s+'))) AS DOUBLE), 6)
         AS bpe_per_ws_token
FROM documents d JOIN per_doc p USING (doc_id)
WHERE p.bpe_tokens > 0
GROUP BY d.lang
"""


ORACLE_T31 = _oracle_t31()
