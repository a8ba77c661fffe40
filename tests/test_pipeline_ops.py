"""Tests for the round-1b pipeline operators: PII scrub, chunking,
stratified sampling, contamination, sequence packing, embedding
quantization — semantics on crafted inputs + invariants on testdata
+ plan-shape (no-shuffle) assertions for the per-row ops."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from llamadb_spark.operators import packing, sampling, similarity, textops


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scrub_pii_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@example.com and http://x.io/a?b=1 now"),
            (2, "call 555-123-4567 or 555 333 2222 twice"),
            (3, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.scrub_pii(df).collect()}
    assert rows[1].n_emails == 1 and rows[1].n_urls == 1 and rows[1].n_phones == 0
    assert rows[2].n_phones == 2 and rows[2].n_emails == 0
    assert rows[3].n_emails == rows[3].n_urls == rows[3].n_phones == 0
    # scrubbing changed doc 1+2 but not 3
    import hashlib

    assert rows[3].clean_sha == hashlib.sha256(
        b"clean text with no pii at all"
    ).hexdigest()


def test_scrub_and_chunk_have_no_shuffle(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert "Exchange" not in plan(textops.scrub_pii(docs))
    assert "Exchange" not in plan(textops.chunk_documents(docs))


def test_chunk_documents_covers_text(spark):
    df = spark.createDataFrame(
        [(1, "a" * 950), (2, "b" * 10), (3, "c" * 400)],
        "doc_id long, text string",
    )
    out = textops.chunk_documents(df, size=400, stride=300).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1 (950 chars): starts 1,301,601,901 -> lens 400,400,350,50
    assert len(by_doc[1]) == 4
    assert sorted(r.chunk_chars for r in by_doc[1]) == [50, 350, 400, 400]
    # short doc: one whole chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_chars == 10
    # exact-size doc: chunk 0 full + chunk 1 tail (stride 300 < 400)
    assert len(by_doc[3]) == 2


def test_stratified_sample_deterministic_subset(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "n_chars"
    )
    rates = {"en": 0.25, "de": 0.5}
    a = sampling.stratified_sample(docs, rates).collect()
    b = sampling.stratified_sample(docs, rates).collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    n_docs = docs.count()
    assert 0 < len(a) < n_docs
    # halving a rate can only shrink the stratum (nested samples)
    half = sampling.stratified_sample(docs, {"en": 0.125, "de": 0.5})
    en_half = {r.doc_id for r in half.collect() if r.lang == "en"}
    en_full = {r.doc_id for r in a if r.lang == "en"}
    assert en_half <= en_full


def test_contamination_check_planted_leak(spark):
    leak = "alpha beta gamma delta epsilon zeta"
    train = spark.createDataFrame(
        [(1, f"intro words then {leak} trailing"), (2, "totally different text here")],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, f"benchmark prompt {leak} answer")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textops.contamination_check(train, eval_docs, n=4).collect()}
    assert 1 in rows and 2 not in rows
    # 3 shared 4-grams inside the 6-token leak span
    assert rows[1].n_shared_ngrams == 3 and rows[1].n_eval_docs == 1


def test_pack_sequences_invariants(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budget = 256
    out = packing.pack_sequences(docs, budget=budget, n_shards=8).collect()
    assert len(out) == docs.count()  # every doc exactly once
    assert len({r.doc_id for r in out}) == len(out)
    bins: dict[int, list] = {}
    for r in out:
        bins.setdefault(r.bin_id, []).append(r)
    for members in bins.values():
        fill = sum(r.n_tokens for r in members)
        assert all(r.bin_fill == fill for r in members)  # exact accounting
        if len(members) > 1:
            assert fill <= budget  # only singletons may exceed
    # FFD should beat one-doc-per-bin substantially
    assert len(bins) < len(out) * 0.8


def test_pack_sequences_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, packing.pack_sequences(docs, budget=512).collect()))
    b = sorted(
        map(tuple, packing.pack_sequences(docs.repartition(7), budget=512).collect())
    )
    assert a == b  # partitioning-independent


def test_quantize_embeddings_range_and_scale(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.quantize_embeddings(emb).collect()
    assert len(out) == emb.count()
    for r in out[:50]:
        qs = [int(x) for x in r.q_csv.split(",")]
        assert len(qs) == r.n_dims
        assert all(-127 <= q <= 127 for q in qs)
        assert max(abs(q) for q in qs) == 127  # max element maps to full scale
        assert r.scale > 0


def test_dataset_split_partition_of_corpus(spark, sf_dir):
    import pyspark.sql.functions as F

    from llamadb_spark.operators.sampling import dataset_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dataset_split(docs).cache()
    try:
        # every row gets exactly one split; union of splits = corpus
        assert out.count() == docs.count()
        counts = {r.split: r.c for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()}
        assert set(counts) == {"train", "val", "test"}
        n = docs.count()
        assert 0.7 < counts["train"] / n < 0.9  # ~80% within hash noise
        # determinism: same assignment on recompute
        again = {r.doc_id: r.split for r in dataset_split(docs).select("doc_id", "split").collect()}
        first = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
        assert first == again
    finally:
        out.unpersist()


def test_heavy_hitters_superset_of_exact(spark, sf_dir):
    """freqItems guarantee: every token with frequency > support must
    appear in the sketch output (false positives allowed)."""
    import pyspark.sql.functions as F

    from llamadb_spark.functions.text import tokens
    from llamadb_spark.operators.textops import heavy_hitter_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    support = 0.02
    got = {r.token for r in heavy_hitter_tokens(docs, support).collect()}

    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token")).filter(
        F.col("token") != ""
    )
    total = tok.count()
    exact = {
        r.token
        for r in tok.groupBy("token")
        .count()
        .filter(F.col("count") > support * total)
        .collect()
    }
    assert exact, "support chosen so the corpus has heavy hitters"
    assert exact <= got


def test_leakproof_split_no_cluster_straddles(spark, sf_dir):
    """The invariant p10 exists for: every near-dup cluster's members
    land in the SAME split (a per-doc split would leak near-dups
    across train/test)."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import broadcast, col

    from llamadb_spark.operators import dedup
    from llamadb_spark.operators.sampling import bucket_hash
    from llamadb_spark.queries.pipeline import JACCARD_THRESHOLD, _docs

    docs = _docs(spark, sf_dir)
    pairs = dedup.jaccard_ngram_pairs(
        docs, threshold=JACCARD_THRESHOLD
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs).select(
        col("node").alias("doc_id"), "cluster_id"
    )
    assert cc.count() > 0, "corpus must contain near-dup clusters"
    canon = F.coalesce(col("cluster_id"), col("doc_id"))
    b = bucket_hash(canon)
    split = F.when(b < 800, "train").when(b < 900, "val").otherwise("test")
    labeled = (
        docs.select("doc_id")
        .join(broadcast(cc), "doc_id", "left")
        .select(canon.alias("canon"), split.alias("split"))
    )
    straddlers = (
        labeled.groupBy("canon")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(col("n_splits") > 1)
    )
    assert straddlers.count() == 0


def test_m06_media_filter_gates_and_buckets(spark, sf_dir):
    import pyspark.sql.functions as F
    from pyspark.sql.functions import col

    from llamadb_spark.operators import multimodal
    from llamadb_spark.queries.pipeline import m06_media_filter, _docs

    out = {r.mp_bucket: r for r in m06_media_filter(spark, sf_dir).collect()}
    assert out and set(out) <= {"small", "medium", "large"}
    # survivors equal a direct recount under the same gates on the
    # decoded dims (the filter ran on metadata, not payloads)
    env = multimodal.attach_payload(_docs(spark, sf_dir))
    decoded = multimodal.decode_media(env)
    aspect = col("width") / col("height")
    n_kept = decoded.filter(
        (aspect >= 0.5) & (aspect <= 2.0) & (F.least("width", "height") >= 256)
    ).count()
    assert sum(r.n_items for r in out.values()) == n_kept
    # every reported mean aspect respects the gate
    assert all(0.5 <= r.avg_aspect <= 2.0 for r in out.values())


def test_p12_dup_weights_mass_conservation(spark, sf_dir):
    import pyspark.sql.functions as F

    from llamadb_spark.queries.pipeline import p12_dup_weights, _docs

    df = p12_dup_weights(spark, sf_dir)
    rows = df.collect()
    docs = _docs(spark, sf_dir)
    # per-source raw counts match; effective mass never exceeds raw
    raw = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in rows:
        assert r.n_docs == raw[r.source]
        assert r.effective_docs <= r.n_docs + 1e-6
        assert 0.0 <= r.dup_tax < 1.0
    # total effective mass == number of DISTINCT texts (each text
    # contributes exactly weight 1 across all its copies)
    n_distinct = docs.select("text").distinct().count()
    assert abs(sum(r.effective_docs for r in rows) - n_distinct) < 1e-3


def test_t21_source_overlap_bounds_and_symmetry(spark, sf_dir):
    from llamadb_spark.queries.pipeline import t21_source_overlap

    rows = t21_source_overlap(spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        # canonical pair orientation, jaccard in (0, 1]
        assert r.src_a < r.src_b
        assert 0.0 < r.jaccard <= 1.0
        assert r.n_common >= 1
    # descending by jaccard (deterministic tie-break asserted by sort keys)
    js = [r.jaccard for r in rows]
    assert js == sorted(js, reverse=True)


def test_p19_composed_manifest_invariants(spark, sf_dir):
    """The composed pipeline key (VERDICT r07 #3): every selected doc
    appears exactly once, packing invariants hold, the token budget
    is respected, and every selected doc survives all upstream cuts
    (exact dedup, near-dup clusters, quality filter)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from llamadb_spark.operators import dedup
    from llamadb_spark.queries.pipeline import (
        JACCARD_THRESHOLD,
        P19_TOKEN_BUDGET,
        STOP_SHINGLE_DF,
        _docs,
        p19_pipeline_manifest,
    )

    m = p19_pipeline_manifest(spark, sf_dir).localCheckpoint()
    rows = m.collect()
    assert len(rows) > 0
    # exactly-once membership
    assert len({r.doc_id for r in rows}) == len(rows)
    # packing + budget invariants
    assert all(r.fits_budget and r.fill_covers_doc for r in rows)
    assert all(r.logit_micro > 0 for r in rows)
    assert sum(r.n_tokens for r in rows) <= P19_TOKEN_BUDGET
    assert all(0 <= r.shard < 8 for r in rows)

    # upstream cuts: no selected doc is an exact-dup loser or a
    # near-dup cluster non-representative
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    keep = dedup.exact_dedup(docs).select(
        col("keep_id").alias("doc_id")
    )
    exact_losers = {
        r.doc_id
        for r in docs.join(keep, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    }
    pairs = dedup.jaccard_ngram_pairs(
        docs.join(keep, "doc_id", "left_semi"),
        threshold=JACCARD_THRESHOLD,
        stop_shingle_df=STOP_SHINGLE_DF,
    ).select("a_id", "b_id")
    nd_losers = {
        r.node
        for r in dedup.connected_components(pairs)
        .filter(col("node") != col("cluster_id"))
        .collect()
    }
    selected = {r.doc_id for r in rows}
    assert not (selected & exact_losers)
    assert not (selected & nd_losers)


def test_p19_bpe_budget_variant_nested_prefix(spark, sf_dir):
    """VERDICT r08 #2: the composed pipeline budgeted in exact BPE
    tokens (token_counter="bpe" — the currency training actually
    spends) instead of whitespace tokens. The candidate ordering
    (logit desc, doc_id) is currency-independent, so the two
    selections MUST be nested prefixes of the same order; schema and
    all packing invariants are unchanged."""
    from llamadb_spark.queries.pipeline import p19_pipeline_manifest

    ws = p19_pipeline_manifest(spark, sf_dir).localCheckpoint()
    bpe = p19_pipeline_manifest(
        spark, sf_dir, token_counter="bpe"
    ).localCheckpoint()
    assert ws.schema == bpe.schema
    ws_rows = {r.doc_id: r for r in ws.collect()}
    bpe_rows = {r.doc_id: r for r in bpe.collect()}
    assert ws_rows and bpe_rows
    a, b = set(ws_rows), set(bpe_rows)
    assert a <= b or b <= a, "ws/bpe selections must be nested prefixes"
    # shared docs carry identical attestation columns — only the
    # budget CUT POINT moves with the currency
    for did in a & b:
        assert ws_rows[did] == bpe_rows[did]
    # invariants hold under the bpe currency too
    assert all(
        r.fits_budget and r.fill_covers_doc and r.logit_micro > 0
        for r in bpe_rows.values()
    )


def test_p19_oracle_twin_runs_under_a_duckdb_memory_cap():
    """p19's DuckDB twin stays checkable on a 4-core, 15 GB box: at
    sf0.01, capped at 2 GB and 4 threads, it returns p19's 48 rows.
    With ``losers`` not materialized, its ``NOT IN`` over the
    recursive closure ``reach`` ran out of memory under this cap."""
    import duckdb

    from llamadb_spark.queries.pipeline_select import ORACLE_P19

    sf = "/root/testdata/sf0.01"
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        assert len(con.execute(ORACLE_P19).fetchall()) == 48
    finally:
        con.close()


def test_p15_bpe_budget_variant(spark, sf_dir):
    """p15 budgeted in BPE tokens: runs green with the same schema;
    the selected token mass stays within the (currency-reinterpreted)
    budget, and the per-source doc counts never exceed the ws
    variant's when BPE counts dominate ws counts on this corpus."""
    from llamadb_spark.queries.pipeline import (
        P15_TOKEN_BUDGET,
        p15_token_budget_select,
    )

    ws = p15_token_budget_select(spark, sf_dir)
    bpe = p15_token_budget_select(spark, sf_dir, token_counter="bpe")
    assert ws.schema == bpe.schema
    got = bpe.collect()
    assert got and sum(r.tokens_selected for r in got) <= P15_TOKEN_BUDGET


def test_p03_bpe_pack_variant(spark, sf_dir):
    """VERDICT r09 #6: p03 packs in exact BPE tokens when
    token_counter="bpe" — the context-window currency a training run
    actually fills. Same schema, same every-doc-exactly-once row
    set, same FFD invariants; n_tokens must equal the exact BPE
    counts (so bins genuinely budget in the new currency, not a
    relabeled whitespace count)."""
    from llamadb_spark.operators.bpe import bpe_token_counts
    from llamadb_spark.queries.pipeline import (
        _docs,
        p03_pack_sequences,
    )

    ws = p03_pack_sequences(spark, sf_dir).localCheckpoint()
    bpe = p03_pack_sequences(
        spark, sf_dir, token_counter="bpe"
    ).localCheckpoint()
    assert ws.schema == bpe.schema
    ws_rows = {r.doc_id: r for r in ws.collect()}
    bpe_rows = {r.doc_id: r for r in bpe.collect()}
    assert set(ws_rows) == set(bpe_rows)  # every doc exactly once
    assert all(
        r.fits_budget and r.fill_covers_doc for r in bpe_rows.values()
    )
    want = {
        r.doc_id: r.bpe_tokens
        for r in bpe_token_counts(_docs(spark, sf_dir)).collect()
    }
    assert all(r.n_tokens == want[d] for d, r in bpe_rows.items())
