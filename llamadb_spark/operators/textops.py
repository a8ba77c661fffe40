"""Text analysis operators (SURVEY §2 t-rows): language ID, quality
scoring, token counting, fingerprinting, entropy, PMI. Built-ins —
these run per-row inside whole-stage codegen with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from llamadb_spark.functions.text import (
    BPE_PATTERN,
    STOPWORDS,
    distinct_tokens,
    stopword_hits,
    tokens,
)
from llamadb_spark.session import stage


def language_id(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stopword-marker language ID: count distinct stopword types per
    language, argmax with fixed priority en>de>fr>es, 'und'
    (undetermined) when no list hits.

    Output: (id, *carry_cols, hits_en, hits_de, hits_fr, hits_es,
    pred_lang). `carry_cols` ride along in the same scan so callers
    never need a join back to the source.
    """
    toks = distinct_tokens(col(text_col))
    d = docs.select(
        col(id_col),
        *[col(c) for c in carry_cols],
        *[
            stopword_hits(toks, lang).cast("long").alias(f"hits_{lang}")
            for lang in STOPWORDS
        ],
    )
    best = F.greatest(*[col(f"hits_{lang}") for lang in STOPWORDS])
    pred = F.when(best == 0, "und")
    for lang in STOPWORDS:  # insertion order = priority order
        pred = pred.when(col(f"hits_{lang}") == best, lang)
    return d.withColumn("pred_lang", pred)


def quality_score(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality score from length / punctuation / stopword /
    type-token signals:

      lexical_diversity = distinct tokens / tokens
      length_factor     = min(1, tokens/100)
      punct_ratio       = non-alnum-non-space chars / chars
      stop_ratio        = english stopword hits / distinct tokens
      quality = round(diversity * length_factor * (1-punct_ratio)
                      * (0.5 + 0.5*min(1, 4*stop_ratio)), 6)

    Output: (id, n_tokens, n_distinct, punct_ratio, stop_ratio, quality).
    """
    toks = tokens(col(text_col))
    dtoks = distinct_tokens(col(text_col))
    n_tok = F.size(toks).cast("double")
    n_dis = F.size(dtoks).cast("double")
    n_chars = F.length(col(text_col)).cast("double")
    n_punct = F.length(
        F.regexp_replace(F.lower(col(text_col)), r"[a-z0-9\s]", "")
    ).cast("double")
    hits = stopword_hits(dtoks, "en").cast("double")
    punct_ratio = F.round(n_punct / n_chars, 6)
    stop_ratio = F.round(hits / n_dis, 6)
    quality = F.round(
        (n_dis / n_tok)
        * F.least(lit(1.0), n_tok / 100.0)
        * (1 - n_punct / n_chars)
        * (0.5 + 0.5 * F.least(lit(1.0), 4 * hits / n_dis)),
        6,
    )
    return docs.select(
        col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(dtoks).cast("long").alias("n_distinct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
    )


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts + chars (the billing
    triple of a training-data pipeline).

    Output: (id, n_chars, ws_tokens, bpe_tokens).
    """
    return docs.select(
        col(id_col),
        F.length(col(text_col)).cast("long").alias("n_chars"),
        F.size(tokens(col(text_col))).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower(col(text_col)), lit(BPE_PATTERN))
        .cast("long")
        .alias("bpe_tokens"),
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase
    text (the exact-dedup key), plus a 64-bit rolling-style prefix
    (first 16 hex chars as bigint) for compact storage/joins.

    Output: (id, fp_md5, fp64).
    """
    norm = F.regexp_replace(F.trim(F.lower(col(text_col))), r"\s+", " ")
    fp = F.md5(norm)
    return docs.select(
        col(id_col),
        fp.alias("fp_md5"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fp64"),
    )


#: PII patterns — kept to the regex subset shared by Java regex
#: (Spark) and RE2 (DuckDB oracles) so both engines scrub identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL = r"https?://[^\s]+"
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"


def scrub_pii(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: emails, URLs, phone-shaped
    digit runs → typed placeholder tokens, applied in a fixed order
    (email, then url, then phone) so the output is deterministic.

    Pure regexp_replace/regexp_count chain — per-row inside
    whole-stage codegen, zero shuffles, scales linearly.

    Output: (id, n_emails, n_urls, n_phones, clean_chars, clean_sha).
    The scrubbed text itself is reduced to sha256 so downstream
    comparisons stay compact; callers wanting the text use
    `scrubbed_text` below.
    """
    clean = scrubbed_text(col(text_col))
    return docs.select(
        col(id_col),
        F.regexp_count(col(text_col), lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(col(text_col), lit(PII_URL)).cast("long").alias("n_urls"),
        F.regexp_count(col(text_col), lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.length(clean).cast("long").alias("clean_chars"),
        F.sha2(clean, 256).alias("clean_sha"),
    )


def scrubbed_text(text: Column) -> Column:
    """The scrubbed text expression (email → url → phone order)."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_URL, "<URL>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def chunk_documents(
    docs: DataFrame,
    size: int = 400,
    stride: int = 300,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping fixed-size character chunks (size=window, stride=
    hop) — the context-window splitter of a training pipeline. Chunk k
    covers [1 + k*stride, 1 + k*stride + size); the last chunk starts
    at the largest k with start <= length.

    One explode of a generated index sequence — no shuffle; chunk
    count per doc is ceil(len/stride), bounded and known up front.

    Output: (id, chunk_id, chunk_chars, chunk_sha).
    """
    n_last = F.greatest(
        F.floor((F.length(col(text_col)) - 1) / stride), lit(0)
    ).cast("int")
    chunk = F.expr(f"substring({text_col}, 1 + _k * {stride}, {size})")
    return (
        docs.select(
            col(id_col),
            col(text_col),
            F.explode(F.sequence(lit(0), n_last)).alias("_k"),
        )
        .select(
            col(id_col),
            col("_k").cast("long").alias("chunk_id"),
            F.length(chunk).cast("long").alias("chunk_chars"),
            F.sha2(chunk, 256).alias("chunk_sha"),
        )
    )


def ngram_shingles(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). One
    narrow projection + explode (same inline-expression discipline as
    shingle_array_expr — no shuffle, no re-evaluation trap)."""
    from llamadb_spark.functions.text import with_tokens

    arr = F.when(
        F.size("_toks") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return with_tokens(docs, id_col, text_col).select(
        col(id_col), F.explode(arr).alias("shingle")
    )


def contamination_check(
    train: DataFrame, eval_docs: DataFrame, n: int = 8,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination scan: for every training doc sharing
    at least one word n-gram with the eval set, report how many
    distinct n-grams leak and how many eval docs they touch — the
    pre-training hygiene check against benchmark leakage.

    Scale: shingles join on the shingle string (inverted-index
    pattern — never doc×doc). The eval side is tiny by construction
    (held-out benchmarks), so it broadcasts; the train side streams
    through map-side with no shuffle until the final per-doc agg.

    Output: (id, n_shared_ngrams, n_eval_docs).
    """
    from pyspark.sql.functions import broadcast

    tr = ngram_shingles(train, n, id_col, text_col)
    ev = ngram_shingles(eval_docs, n, id_col, text_col).select(
        col(id_col).alias("_eval_id"), "shingle"
    )
    return (
        tr.join(broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
    )


def vocab_topk(
    docs: DataFrame, k: int = 100, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary by document frequency: for each token, how
    many documents contain it (distinct per doc), top-k with a
    deterministic (df desc, token asc) tiebreak.

    Scale: explode of distinct per-doc tokens → groupBy(token) with
    map-side partial count; top-k is TakeOrderedAndProject (no global
    sort materialization).
    """
    toks = docs.select(F.explode(distinct_tokens(col(text_col))).alias("token"))
    return (
        toks.filter(col("token") != "")
        .groupBy("token")
        .agg(F.count(lit(1)).alias("df"))
        .orderBy(col("df").desc(), col("token"))
        .limit(k)
    )


def repetition_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Repeated word-3-gram fraction per document — the standard
    boilerplate/spam signal (1 - distinct/total shingles). Computed
    from TWO array expressions in one narrow projection: no explode,
    no shuffle at all.

    Output: (id, n_shingles, n_distinct, rep_ratio) — docs with < 3
    tokens score 0.
    """
    from llamadb_spark.functions.text import shingle_array_expr, with_tokens

    total_expr = F.greatest(F.size("_toks") - 2, lit(0))
    base = with_tokens(docs, id_col, text_col).select(
        col(id_col),
        total_expr.alias("n_shingles"),
        F.size(shingle_array_expr()).alias("n_distinct"),
    )
    return base.select(
        col(id_col),
        col("n_shingles").cast("long").alias("n_shingles"),
        col("n_distinct").cast("long").alias("n_distinct"),
        F.when(col("n_shingles") > 0,
               F.round(1.0 - col("n_distinct") / col("n_shingles"), 6))
        .otherwise(lit(0.0))
        .alias("rep_ratio"),
    )


def tfidf_topk(
    docs: DataFrame,
    query_tokens: list[str],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TF-IDF relevance ranking for a bag-of-words query — the
    no-embedding retrieval baseline. score(d) = Σ_t tf(t,d) ·
    ln((N+1)/(df_t+1)) over the query terms present in d; top-k with
    a deterministic (score desc, id asc) tiebreak.

    Scale: tokens are filtered to the query set BEFORE the explode's
    groupBy, so the shuffle carries only query-term hits; df and N
    are one-row/tiny aggregates broadcast to the scorer; top-k is
    TakeOrderedAndProject.

    Output: (id, n_terms, score).
    """
    from pyspark.sql.functions import broadcast

    from llamadb_spark.functions.text import with_tokens

    toks = with_tokens(docs, id_col, text_col).select(
        col(id_col), F.explode("_toks").alias("token")
    )
    hits = toks.filter(col("token").isin(query_tokens))
    # tf is referenced twice (scorer input + df derivation); stage it
    # so the tokenize+explode corpus pass runs once. It holds only
    # query-term hits — |docs| × |query| rows at most — so the
    # materialization is trivially small.
    tf, _ = stage(hits.groupBy(id_col, "token").agg(F.count(lit(1)).alias("tf")))
    df_tab = tf.groupBy("token").agg(F.count(lit(1)).alias("df"))
    n_docs = docs.agg(F.count(lit(1)).alias("n_docs"))
    return (
        tf.join(broadcast(df_tab), "token")
        .crossJoin(broadcast(n_docs))
        .withColumn("idf", F.log((col("n_docs") + 1) / (col("df") + 1)))
        .groupBy(id_col)
        .agg(
            F.count(lit(1)).alias("n_terms"),
            F.round(F.sum(col("tf") * col("idf")), 6).alias("score"),
        )
        .orderBy(col("score").desc(), col(id_col))
        .limit(k)
    )

def bm25_topk(
    docs: DataFrame,
    query_tokens: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 ranking for a bag-of-words query — the
    production-grade lexical retrieval baseline (what t09's raw
    TF-IDF lacks: TF saturation via k1 and document-length
    normalization via b). score(d) = Σ_t idf(t) · tf/(tf + k1·(1-b +
    b·|d|/avgdl)), idf = ln((N - df + 0.5)/(df + 0.5) + 1) (the
    non-negative "plus one" form Lucene uses).

    Scale: same shuffle discipline as tfidf_topk — tokens filtered
    to the query set before the groupBy, df/avgdl/N are tiny
    broadcast aggregates, top-k is TakeOrderedAndProject. The extra
    ingredient vs TF-IDF is per-doc length |d|: one corpus-wide
    token count per doc, aggregated once from the same exploded
    pass. Ordering ties are broken on (rounded score desc, id), so
    the cutoff is reproducible cross-engine.

    Output: (id, n_terms, bm25) — bm25 rounded to 6dp.
    """
    from pyspark.sql.functions import broadcast

    from llamadb_spark.functions.text import with_tokens

    tokenized = with_tokens(docs, id_col, text_col)
    # per-doc length needs no explode/shuffle: size() on the token
    # array in the same scan; avgdl is a 1-row aggregate of it
    dl = tokenized.select(
        col(id_col), F.size("_toks").cast("long").alias("dlen")
    )
    avgdl = dl.agg(F.avg("dlen").alias("avgdl"))
    toks = tokenized.select(
        col(id_col), F.explode("_toks").alias("token")
    )
    hits = toks.filter(col("token").isin(query_tokens))
    tf, _ = stage(hits.groupBy(id_col, "token").agg(F.count(lit(1)).alias("tf")))
    df_tab = tf.groupBy("token").agg(F.count(lit(1)).alias("df"))
    n_docs = docs.agg(F.count(lit(1)).alias("n_docs"))
    idf = F.log(
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0
    )
    denom = col("tf") + k1 * (1.0 - b + b * col("dlen") / col("avgdl"))
    return (
        tf.join(broadcast(df_tab), "token")
        .join(dl, id_col)
        .crossJoin(broadcast(avgdl))
        .crossJoin(broadcast(n_docs))
        .withColumn("_term_score", idf * col("tf") / denom)
        .groupBy(id_col)
        .agg(
            F.count(lit(1)).alias("n_terms"),
            F.round(F.sum("_term_score"), 6).alias("bm25"),
        )
        .orderBy(col("bm25").desc(), col(id_col))
        .limit(k)
    )


def heavy_hitter_tokens(
    docs: DataFrame,
    support: float = 0.02,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sketch-based frequent-token detection: single pass, O(1/support)
    memory per partition (Karp/misra-gries style summaries merged on
    the driver via DataFrame.stat.freqItems) — the 100 TB path when
    an exact token count (t05's groupBy) would shuffle the full
    vocabulary. Guarantee is one-sided: every token with frequency >
    support IS returned; some below-support tokens may ride along, so
    results verify against the exact counter in tests rather than a
    SQL oracle.

    Output: (token) — the candidate heavy-hitter set.
    """
    from llamadb_spark.functions.text import tokens

    tok = docs.select(F.explode(tokens(col(text_col))).alias("token")).filter(
        col("token") != ""
    )
    freq = tok.stat.freqItems(["token"], support)
    return freq.select(
        F.explode(col("token_freqItems")).alias("token")
    )


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    own empirical distribution — the degenerate (n=1) form of the
    perplexity filtering step in training-data curation (docs whose
    tokens are globally unusual score low and get reviewed/dropped).
    With a real LM this becomes a Pandas-UDF scoring pass; the
    unigram form keeps the whole computation in SQL expressions.

    Two shuffles: token counts (map-side combined), then the per-doc
    aggregate. The vocabulary join is NOT hinted: distinct-token
    count grows with the corpus (typos/numerals/code at web scale),
    so AQE decides broadcast vs shuffle from its runtime size — the
    same rule t15's keyword ranking follows (round-3 verdict).

    Output: (id, n_tokens, avg_logprob) — avg_logprob ≤ 0, higher
    (closer to 0) = more typical text.
    """
    from pyspark.sql.functions import broadcast

    from llamadb_spark.functions.text import tokens

    toks = docs.select(
        col(id_col), F.explode(tokens(col(text_col))).alias("token")
    ).filter(col("token") != "")
    counts = toks.groupBy("token").agg(F.count(lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    probs = counts.crossJoin(broadcast(total)).select(
        "token", (col("c") / col("total")).alias("p")
    )
    return (
        toks.join(probs, "token")
        .groupBy(id_col)
        .agg(
            F.count(lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log("p")), 6).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own empirical bigram model: avg ln P(w_i | w_{i-1}) with
    P(b|a) = c(a b) / c(a ·), counts over the whole corpus. The n=2
    step up from unigram_logprob toward real perplexity filtering
    (Wenzek et al., CCNet: LM-perplexity buckets for corpus quality)
    — repetitive/templated text scores near 0, incoherent token salad
    scores very negative.

    Bigrams come from zipping each token array with its own tail
    (JVM-side, same construction as pmi_collocations — no position
    self-join). Three map-side-combined aggregations (bigram counts,
    prefix counts, the per-doc average); the bigram-vocabulary joins
    carry no broadcast hint (vocabulary grows with the corpus — AQE
    decides from runtime sizes, the t14/t15 rule).

    Output: (id, n_bigrams, avg_logprob) for every doc with ≥ 2
    tokens; avg_logprob ≤ 0, higher = more typical phrasing.
    """
    toks = docs.select(
        col(id_col),
        F.filter(tokens(col(text_col)), lambda x: x != "").alias("t"),
    )
    n = F.size("t")
    bis = toks.filter(n >= 2).select(
        col(id_col),
        F.explode(
            F.zip_with(
                F.slice(col("t"), 1, n - 1),
                F.slice(col("t"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    # Stage the bigram stream once: three consumers reference it
    # (bigram counts, prefix counts, the per-doc scoring join) and
    # their exchanges don't canonicalize to a reusable one, so
    # without staging the tokenize+shingle pipeline runs three times
    # (the d02 staging rationale; measured ~3x at sf0.1).
    bis, _ = stage(bis)
    c_ab = bis.groupBy("bigram").agg(F.count(lit(1)).alias("c_ab"))
    c_a = (
        bis.select(F.split(col("bigram"), " ").getItem(0).alias("w1"))
        .groupBy("w1")
        .agg(F.count(lit(1)).alias("c_a"))
    )
    probs = (
        c_ab.withColumn("w1", F.split(col("bigram"), " ").getItem(0))
        .join(c_a, "w1")
        .select("bigram", (col("c_ab") / col("c_a")).alias("p"))
    )
    return (
        bis.join(probs, "bigram")
        .groupBy(id_col)
        .agg(
            F.count(lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("p")), 6).alias("avg_logprob"),
        )
    )


def token_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats)
    — a repetition/quality signal: low entropy = template/boilerplate
    text, high entropy = diverse vocabulary. Complements
    `repetition_ratio` (which looks at shingles, not unigrams).

    H = ln(n) - (Σ c·ln c)/n over per-doc token counts c — computed
    with two map-side-combined aggregations, no window functions.

    Scale: project to (id, carry, token) BEFORE exploding (the
    explode multiplies rows ~100×; every extra byte carried is
    multiplied too). Both groupBys partially aggregate before their
    shuffle, so shuffle volume is per-doc-distinct-token bounded,
    not corpus-token bounded. Entirely codegen'd built-ins.
    """
    tok = docs.select(
        col(id_col), *[col(c) for c in carry_cols],
        F.explode(tokens(col(text_col))).alias("token"),
    ).filter(col("token") != "")
    counts = tok.groupBy(id_col, *carry_cols, "token").agg(
        F.count(lit(1)).alias("c")
    )
    n = F.sum("c")
    return counts.groupBy(id_col, *carry_cols).agg(
        n.alias("n_tokens"),
        (F.log(n) - F.sum(col("c") * F.log("c")) / n).alias("entropy"),
    )


def pmi_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Collocation mining: adjacent-token bigrams ranked by pointwise
    mutual information, PMI = ln(P(ab) / (P(a)·P(b))) — the standard
    measure of "these words co-occur more than chance" (multi-word
    expressions, named entities).

    Construction: bigrams come from zipping each token array with its
    own tail (JVM-side zip_with over two slices — no self-join of a
    position table). Unigram and bigram counts are both map-side-
    combined aggregations; the PMI join runs bigram-vocabulary ×
    unigram-vocabulary. Neither side is hinted: vocabulary size
    grows with the corpus (typos/numerals/code at web scale), so
    AQE picks broadcast vs shuffle from runtime sizes — the same
    rule as t14/t15 (round-3 verdict).

    min_count filters rare bigrams BEFORE the join (PMI of count-1
    pairs is noise and would dominate the ranking).
    """
    toks = docs.select(tokens(col(text_col)).alias("t")).select(
        F.filter(col("t"), lambda x: x != "").alias("t")
    )
    n = F.size("t")
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(col("t"), 1, n - 1),
                F.slice(col("t"), 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(lit(1)).alias("c_w"))
    )
    bi = (
        bigrams.groupBy("bigram")
        .agg(F.count(lit(1)).alias("c_ab"))
        .filter(col("c_ab") >= min_count)
    )
    # scale anchor N = total token count, threaded in as a broadcast
    # 1-row join (keeps the plan lazy — no driver collect)
    total = uni.agg(F.sum("c_w").cast("double").alias("n_total"))
    parts = bi.select(
        "bigram",
        "c_ab",
        F.split(col("bigram"), " ").getItem(0).alias("w1"),
        F.split(col("bigram"), " ").getItem(1).alias("w2"),
    )
    u1 = uni.select(col("w").alias("w1"), col("c_w").alias("c_1"))
    u2 = uni.select(col("w").alias("w2"), col("c_w").alias("c_2"))
    return (
        parts.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(total))
        .select(
            "bigram",
            "c_ab",
            "c_1",
            "c_2",
            F.round(
                F.log(col("c_ab").cast("double") * col("n_total"))
                - F.log(col("c_1").cast("double") * col("c_2")),
                6,
            ).alias("pmi"),
        )
        .orderBy(col("pmi").desc(), col("bigram"))
        .limit(k)
    )


def compression_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) —
    the redundancy quality signal (Gopher-style filters drop docs
    that compress too well: boilerplate/repetition; and docs that
    barely compress: binary junk mis-labeled as text). Computed in an
    Arrow-batched mapInPandas stage (zlib is stdlib — the one
    justified Python hop, same class as the media decode stub); only
    (id, n_raw) cross into Python, ratios come back as doubles.

    Output: (id, n_raw_bytes, n_zlib_bytes, zlib_ratio) for docs
    with non-empty text.
    """
    from collections.abc import Iterator

    import pandas as pd

    def _ratio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf[text_col]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            n_raw = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "n_raw_bytes": pd.Series(n_raw, dtype="int64"),
                    "n_zlib_bytes": pd.Series(comp, dtype="int64"),
                }
            )

    out = docs.select(id_col, text_col).filter(
        F.length(col(text_col)) > 0
    ).mapInPandas(
        _ratio, f"{id_col} long, n_raw_bytes long, n_zlib_bytes long"
    )
    return out.select(
        id_col,
        "n_raw_bytes",
        "n_zlib_bytes",
        F.round(col("n_zlib_bytes") / col("n_raw_bytes"), 6).alias(
            "zlib_ratio"
        ),
    )


def linear_quality_score(
    docs: DataFrame,
    weights_micro: dict[str, int],
    bias_micro: int = 0,
    oov_micro: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality filter (SURVEY §2 #269): a fastText-style
    linear (logistic) document scorer — the standard step between
    heuristic quality signals (t02) and full perplexity filtering in
    public training-data pipelines (e.g. the CCNet / fastText
    quality-classifier recipe) — evaluated as a PURE SQL dot product
    over token counts. No Python anywhere: small vocabularies
    (≤1024) compile the weight vector into a constant literal MAP
    expression (one codegen'd lookup per token); larger ones switch
    automatically to a BROADCAST-joined weights dimension (the
    100k-term fastText shape — corpus pass stays shuffle-free up to
    the per-doc aggregate). Both paths produce identical output
    (equivalence-tested).

    Determinism discipline (d16/p12): weights and bias are INTEGER
    micro-units, the logit is an exact BIGINT sum, and the quality
    label is an integer comparison — no float summation order, no
    cross-engine sigmoid rounding. Callers wanting a probability
    apply sigmoid(logit_micro / 1e6) downstream.

    Output: (doc_id, n_tokens, logit_micro, is_quality) where
    is_quality = logit_micro > 0.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    if len(weights_micro) <= 1024:
        # literal-map form: one codegen'd map lookup per token, zero
        # extra plan nodes — right up to O(1k) vocabularies
        wmap = F.create_map(
            *[x for t, w in sorted(weights_micro.items())
              for x in (F.lit(t), F.lit(int(w)))]
        )
        scored = toks.select(
            "doc_id",
            F.coalesce(
                wmap[F.col("tok")], F.lit(int(oov_micro))
            ).cast("long").alias("w"),
        )
    else:
        # broadcast-dimension form (the 100k-term fastText shape): a
        # weights table left-joined onto the token stream; Spark
        # broadcasts the dim side, so the corpus pass stays
        # shuffle-free up to the per-doc aggregate
        spark = docs.sparkSession
        wdf = spark.createDataFrame(
            sorted(weights_micro.items()), "tok string, w_micro long"
        )
        scored = (
            toks.join(F.broadcast(wdf), "tok", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("w_micro"), F.lit(int(oov_micro)))
                .cast("long")
                .alias("w"),
            )
        )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("w") + F.lit(int(bias_micro))).alias("logit_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logit_micro",
            (F.col("logit_micro") > 0).alias("is_quality"),
        )
    )
