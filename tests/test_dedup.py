"""Dedup operator tests: exact semantics on constructed duplicates,
minhash-vs-exact-jaccard recall, simhash locality."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from llamadb_spark.operators import dedup


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_collapses_normalized_dupes(spark):
    docs = _docs_df(
        spark,
        [
            (1, "Hello   World"),
            (2, "hello world"),  # same after normalization
            (3, "hello world!"),
            (4, "  HELLO\tWORLD "),
        ],
    )
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 3, 3: 1}


def test_jaccard_identical_docs_score_one(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs_df(spark, [(1, text), (2, text), (3, "totally different words here now")])
    pairs = dedup.jaccard_ngram_pairs(docs, threshold=0.9).collect()
    assert [(p.a_id, p.b_id, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_jaccard_short_docs_no_shingles(spark):
    docs = _docs_df(spark, [(1, "two words"), (2, "two words")])
    assert dedup.jaccard_ngram_pairs(docs, threshold=0.0).count() == 0


def test_minhash_finds_exact_jaccard_pairs(spark, sf_dir):
    """LSH candidates must (a) be a superset-ish of high-jaccard
    pairs (recall) and (b) estimate jaccard within banding error."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.jaccard_ngram_pairs(docs, threshold=0.3).collect()
    }
    est = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.2).collect()
    }
    if exact:  # recall on genuinely-similar pairs
        hit = sum(1 for k in exact if k in est)
        assert hit / len(exact) >= 0.5
    for k, e in est.items():
        if k in exact:
            assert abs(e - exact[k]) < 0.35


def test_minhash_signature_shape(spark):
    docs = _docs_df(spark, [(1, "a b c d e f g h i j")])
    sig = dedup.minhash_signatures(docs, num_hashes=16).collect()[0].sig
    assert len(sig) == 16


def test_simhash_deterministic_and_local(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = _docs_df(spark, [(1, base), (2, base), (3, "%s extra" % base)])
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2]  # identical docs → identical fingerprint
    # mask to 64 bits: values are signed longs, and python's bin() on
    # a negative xor would count sign-magnitude bits, not the word
    hamming = bin((fps[1] ^ fps[3]) & (2**64 - 1)).count("1")
    assert hamming <= 16  # one-token edit stays nearby


def test_simhash_on_real_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    out = dedup.simhash_fingerprints(docs)
    rows = out.collect()
    assert len(rows) == 50
    assert all(0 <= r.bucket < 2**16 for r in rows)


def test_connected_components_chain_and_clique(spark):
    from llamadb_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3: needs multiple propagation rounds),
    # clique {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_d07_dedup_apply_drops_only_nonrepresentatives(spark, sf_dir):
    from llamadb_spark.queries.pipeline import (
        JACCARD_THRESHOLD,
        d07_dedup_apply,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.jaccard_ngram_pairs(docs, threshold=JACCARD_THRESHOLD)
    cc = dedup.connected_components(pairs.select("a_id", "b_id"))
    n_losers = cc.filter(F.col("node") != F.col("cluster_id")).count()

    out = d07_dedup_apply(spark, sf_dir)
    surviving = sum(r.n_docs for r in out.collect())
    assert surviving == docs.count() - n_losers
    # the corpus-side filter must be a broadcast anti join (drop-list
    # is duplicate-sized, never corpus-sized)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_d08_semantic_dedup_keeps_representatives(spark, sf_dir):
    import pyspark.sql.functions as F

    from llamadb_spark.operators import dedup, similarity
    from llamadb_spark.queries.pipeline import (
        EMBED_NEARDUP_THRESHOLD,
        d08_semantic_dedup_apply,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = d08_semantic_dedup_apply(spark, sf_dir)
    survived = sum(r.n_vecs for r in out.collect())
    pairs = similarity.embed_neardup_pairs(
        emb, threshold=EMBED_NEARDUP_THRESHOLD
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs)
    n_losers = cc.filter(F.col("node") != F.col("cluster_id")).count()
    assert survived == emb.count() - n_losers
    assert all(r.avg_norm > 0 for r in out.collect())


def test_d08_runs_without_a_user_warning(spark, sf_dir):
    """The blocked cosine's grouped-map function is annotated in full,
    so applyInPandas infers its eval type without a warning."""
    import warnings

    from llamadb_spark.queries.pipeline import d08_semantic_dedup_apply

    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        d08_semantic_dedup_apply(spark, sf_dir).collect()
    assert not [w for w in seen if issubclass(w.category, UserWarning)]


def test_stop_shingle_cap_bounds_candidates(spark):
    # A boilerplate sentence shared by EVERY doc would make each doc
    # pair a candidate (O(n²)); with the hot shingle dropped, only
    # genuinely-similar docs meet in the self-join. Unique filler
    # words keep every non-boilerplate shingle's df at 1.
    boiler = "all rights reserved by the example corporation of earth"
    docs = spark.createDataFrame(
        [
            (i, f"{boiler} unique{i}a word{i}b tail{i}c more{i}d xx{i}e")
            for i in range(20)
        ]
        + [(100, "twin document body identical text here"),
           (101, "twin document body identical text here")],
        ["doc_id", "text"],
    )
    capped = dedup.jaccard_ngram_pairs(docs, threshold=0.1, stop_shingle_df=5)
    rows = capped.collect()
    # boilerplate-only pairs are gone; the true twin pair survives
    assert {(r.a_id, r.b_id) for r in rows} == {(100, 101)}
    # uncapped: every boilerplate pair is a candidate and scores ≥0.1
    uncapped = dedup.jaccard_ngram_pairs(docs, threshold=0.1, stop_shingle_df=None)
    assert uncapped.count() > 100


def test_lsh_bucket_cap_drops_megabucket(spark):
    # 30 identical docs form one mega-bucket in every band; with
    # max_bucket_size below the clique size no candidates survive,
    # and with the default cap the clique pairs come back.
    docs = spark.createDataFrame(
        [(i, "same text body repeated for the whole clique") for i in range(30)],
        ["doc_id", "text"],
    )
    assert (
        dedup.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=10).count() == 0
    )
    assert (
        dedup.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=None).count()
        == 30 * 29 // 2
    )


#: Entities (docs or vectors) of each guard case below. Every entity
#: carries the hot key, so a cap of D - 1 (the cap of 5 of
#: ``test_stop_shingle_cap_bounds_candidates``) must drop it and a cap
#: of D must not.
_GUARD_D = 6
_BOILER = "all rights reserved by the example corporation of earth"


def _boiler_docs(spark, ids):
    """Docs sharing ``_BOILER``, with unique filler, plus a twin pair
    (ids 100 and 101) that also carries it."""
    twin = f"{_BOILER} twin document body identical text here"
    return _docs_df(
        spark,
        [(i, f"{_BOILER} unique{i}a word{i}b tail{i}c") for i in ids]
        + [(100, twin), (101, twin)],
    )


def _guard_case(spark, op: str):
    """(module whose ``drop_hot_keys`` the operator calls, cap -> the
    operator's rows) for one gated guard call site, over ``_GUARD_D``
    entities."""
    from llamadb_spark.operators import similarity

    d = _GUARD_D
    if op == "lsh_ann":
        emb = spark.createDataFrame(
            [(i, [1.0, 0.5, 0.25]) for i in range(d)],
            "vec_id long, embedding array<float>",
        )
        return similarity, lambda cap: similarity.lsh_ann_pairs(
            emb, threshold=0.3, num_planes=2, num_tables=4,
            max_bucket_size=cap,
        )
    if op == "minhash":
        clique = _docs_df(
            spark, [(i, "same text body repeated for the whole clique")
                    for i in range(d)],
        )
        return dedup, lambda cap: dedup.minhash_lsh_pairs(
            clique, threshold=0.1, max_bucket_size=cap
        )
    if op == "incremental":
        corpus = _boiler_docs(spark, range(d - 2))
        batch = _docs_df(
            spark,
            [(200, f"{_BOILER} twin document body identical text here"),
             (201, f"{_BOILER} fresh filler words only")],
        )
        return dedup, lambda cap: dedup.incremental_jaccard_matches(
            batch, corpus, threshold=0.1, stop_shingle_df=cap
        )
    docs = _boiler_docs(spark, range(d - 2))
    if op == "jaccard":
        return dedup, lambda cap: dedup.jaccard_ngram_pairs(
            docs, threshold=0.1, stop_shingle_df=cap
        )
    if op == "containment":
        return dedup, lambda cap: dedup.containment_pairs(
            docs, threshold=0.1, stop_shingle_df=cap
        )
    assert op == "shared_ngram"
    return dedup, lambda cap: dedup.shared_ngram_pairs(
        docs, n=3, stop_shingle_df=cap
    )


def _always_guarded(monkeypatch, module) -> None:
    """Make ``module``'s guard ignore the entity bound (the guard as it
    ran before the bound existed)."""
    from llamadb_spark.functions.blocking import drop_hot_keys

    monkeypatch.setattr(
        module,
        "drop_hot_keys",
        lambda df, keys, cap, entities=None: drop_hot_keys(df, keys, cap),
    )


@pytest.mark.parametrize(
    "op",
    ["jaccard", "containment", "shared_ngram", "incremental", "minhash",
     "lsh_ann"],
)
def test_hot_key_guard_fires_below_the_entity_count(spark, monkeypatch, op):
    """A gated guard gives the always-guarded rows on both sides of the
    entity count D: below D it really drops the hot key (its rows
    differ from the unguarded ones), at D nothing is dropped."""
    module, run = _guard_case(spark, op)

    def rows(cap):
        return sorted(tuple(r) for r in run(cap).collect())

    caps = (_GUARD_D - 1, _GUARD_D)
    gated = {cap: rows(cap) for cap in caps}
    unguarded = rows(None)
    _always_guarded(monkeypatch, module)
    for cap in caps:
        assert gated[cap] == rows(cap), cap
        assert (gated[cap] != unguarded) == (cap < _GUARD_D), cap


def test_shingle_index_counts_its_docs(spark):
    """The index's doc count comes from its staging job: docs with at
    least one shingle, each counted once however many it has."""
    docs = _docs_df(
        spark,
        [(1, "one two three four five"), (2, "too short"),
         (3, "a b c a b c a b c"), (4, "")],
    )
    idx, n_docs = dedup.hashed_shingle_index(docs)
    assert n_docs == 2
    assert idx.columns == ["doc_id", "n_sh", "sh"]
    assert idx.count() == 3 + 3  # distinct shingles of docs 1 and 3


def test_star_cc_matches_minlabel_and_log_rounds(spark, monkeypatch):
    """Above the gate a chain of n nodes settles in ~log2(n) star
    rounds and every node gets its component's min label. The round
    cap is set to the bound, so needing one more round raises."""
    import math

    monkeypatch.setattr(dedup, "_LOCAL_MAX_EDGES", -1)
    n = 64
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", int(math.log2(n)) + 2)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a_id", "b_id"]
    )
    got = {
        (r.node, r.cluster_id)
        for r in dedup.connected_components(chain).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_cc_round_cap_raises(spark, monkeypatch):
    """Reaching the round cap without a fixed point is an error, never
    a partial labelling: one round cannot confirm a fixed point."""
    monkeypatch.setattr(dedup, "_LOCAL_MAX_EDGES", -1)
    monkeypatch.setattr(dedup, "_MAX_ROUNDS", 1)
    chain = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["a_id", "b_id"])
    with pytest.raises(RuntimeError, match="no fixed point"):
        dedup.connected_components(chain)


# The ids keep the names of the cases from when a min-label and a
# star function both existed; the axis now reads each pair as given
# and with its a and b columns swapped, which must not change a row.
@pytest.mark.parametrize(
    "cols", [("a_id", "b_id"), ("b_id", "a_id")], ids=["minlabel", "star"]
)
@pytest.mark.parametrize(
    "local_max", [dedup._LOCAL_MAX_EDGES, -1], ids=["local", "distributed"]
)
def test_cc_schema_same_on_local_and_distributed_paths(
    spark, monkeypatch, cols, local_max
):
    """The driver-side finish and the distributed rounds return the
    same rows and schema: int ids stay int (not widened to long), also
    for an empty pair list, and a self-loop-only node is a singleton.
    Which column is a and which is b does not matter."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    monkeypatch.setattr(dedup, "_LOCAL_MAX_EDGES", local_max)
    expect = StructType(
        [
            StructField("node", IntegerType(), True),
            StructField("cluster_id", IntegerType(), True),
        ]
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 2), (7, 8), (5, 5)], "a_id int, b_id int"
    )
    out = dedup.connected_components(pairs, *cols)
    assert out.schema == expect
    assert sorted(out.collect()) == [(1, 1), (2, 1), (3, 1), (5, 5), (7, 7), (8, 7)]
    empty = dedup.connected_components(
        spark.createDataFrame([], "a_id int, b_id int"), *cols
    )
    assert empty.schema == expect
    assert empty.collect() == []
    # non-null ids give non-null nodes and labels
    strict = dedup.connected_components(
        spark.range(2).selectExpr("id AS a_id", "id + 1 AS b_id"), *cols
    )
    assert [f.nullable for f in strict.schema] == [False, False]
    assert sorted(strict.collect()) == [(0, 0), (1, 0), (2, 0)]


def test_small_graph_apply_keys_skip_star_rounds(spark, sf_dir, monkeypatch):
    """d08's and d12's pair graphs are far below _LOCAL_MAX_EDGES, so
    their components finish on the driver: no star round runs."""
    from llamadb_spark.queries.pipeline import (
        d08_semantic_dedup_apply,
        d12_semantic_dedup_lsh,
    )

    def no_rounds(*args, **kwargs):
        raise AssertionError("star rounds ran on a pair-sized graph")

    monkeypatch.setattr(dedup, "_star_rounds", no_rounds)
    for key in (d08_semantic_dedup_apply, d12_semantic_dedup_lsh):
        assert key(spark, sf_dir).collect()


def test_d12_lsh_pair_recall_vs_exact(spark):
    """d12's LSH pair generator must recover >= 0.9 of the exact d05
    pair set at the dedup threshold (the contract that makes it a
    drop-in approximate path for d08), inventing nothing. Pinned to
    sf0.01 — the SF the parameters were tuned at (the 0.9 gate is a
    statistical property; tiny SFs sit within noise of it)."""
    sf_dir = "/root/testdata/sf0.01"
    from llamadb_spark.operators import similarity
    from llamadb_spark.queries.pipeline import (
        D12_LSH_PLANES,
        D12_LSH_TABLES,
        EMBED_NEARDUP_THRESHOLD,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.a_id, r.b_id)
        for r in similarity.embed_neardup_pairs(
            emb, threshold=EMBED_NEARDUP_THRESHOLD
        ).collect()
    }
    approx = {
        (r.a_id, r.b_id)
        for r in similarity.lsh_ann_pairs(
            emb,
            threshold=EMBED_NEARDUP_THRESHOLD,
            num_planes=D12_LSH_PLANES,
            num_tables=D12_LSH_TABLES,
        ).collect()
    }
    assert approx <= exact  # cosine-verified: no false pairs
    assert exact, "exact pair set unexpectedly empty at this SF"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"LSH pair recall too low: {recall}"


def test_d12_drop_recall_vs_d08(spark):
    """End-to-end contract of the approximate path: every vector d08
    keeps, d12 also keeps (a missed LSH pair can only SPLIT a
    cluster, and an exact cluster's min-id is the min of any subset
    containing it), and d12 drops >= 90% of what d08 drops. Pinned
    to sf0.01, same rationale as the pair-recall test."""
    sf_dir = "/root/testdata/sf0.01"
    from llamadb_spark.queries.pipeline import (
        d08_semantic_dedup_apply,
        d12_semantic_dedup_lsh,
    )

    n_total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    exact = {r.label: r.n_vecs for r in d08_semantic_dedup_apply(spark, sf_dir).collect()}
    approx = {r.label: r.n_vecs for r in d12_semantic_dedup_lsh(spark, sf_dir).collect()}
    assert set(approx) == set(exact)
    assert all(approx[lbl] >= n for lbl, n in exact.items())
    drops_exact = n_total - sum(exact.values())
    drops_approx = n_total - sum(approx.values())
    assert drops_exact > 0, "no duplicates at this SF — test is vacuous"
    assert drops_approx / drops_exact >= 0.9, (
        f"approximate dedup dropped only {drops_approx}/{drops_exact} "
        "of the exact drop set"
    )


def test_containment_flags_excerpt_jaccard_misses(spark):
    """A short quote inside a long doc: containment = 1.0 while
    jaccard stays below any dedup threshold; orientation puts the
    smaller doc as inner_id."""
    from llamadb_spark.operators.dedup import containment_pairs, jaccard_ngram_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    cont = containment_pairs(docs, threshold=0.9).collect()
    assert [(r.inner_id, r.outer_id, r.containment) for r in cont] == [(1, 2, 1.0)]
    jac = jaccard_ngram_pairs(docs, threshold=0.12).collect()
    assert jac == []  # union-denominator metric misses the excerpt


def test_minhash_calibration_envelope(spark, sf_dir):
    """d18: per calibration pair the signature-estimated Jaccard must
    sit within the attested band of the exact shingle-set Jaccard
    (banded-boolean contract), and the estimator's RMSE over the pair
    set must stay inside the k=32 envelope (std ~ sqrt(s(1-s)/32)
    <= 0.09 plus selection slack) — the check that the d03 threshold
    is trustworthy."""
    import math

    import pyspark.sql.functions as F
    from pyspark.sql.functions import col

    from llamadb_spark.operators.dedup import minhash_signatures
    from llamadb_spark.queries.pipeline import d18_minhash_calibration

    out = d18_minhash_calibration(spark, sf_dir)
    rows = out.collect()
    assert rows, "no candidate pairs - calibration vacuous"
    assert all(r.est_within_band for r in rows)
    assert all(0.0 <= r.exact_j <= 1.0 for r in rows)

    # recompute the raw estimates to assert the tighter RMSE envelope
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs, num_hashes=32)
    est_col = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(32.0)
    )
    errs = [
        r.err
        for r in out.join(
            sigs.select(col("doc_id").alias("a_id"), col("sig").alias("sig_a")),
            "a_id",
        )
        .join(
            sigs.select(col("doc_id").alias("b_id"), col("sig").alias("sig_b")),
            "b_id",
        )
        .select((est_col - col("exact_j")).alias("err"))
        .collect()
    ]
    bias = sum(errs) / len(errs)
    rmse = math.sqrt(sum(e * e for e in errs) / len(errs))
    assert abs(bias) <= 0.1, bias
    assert rmse <= 0.15, rmse


def test_substring_spans_exact_extents_and_diagonals(spark):
    """Seed-and-chain recovers every maximal shared run >= L with
    exact offsets; runs shorter than L are invisible; one doc pair
    can carry several runs on distinct diagonals."""
    from llamadb_spark.operators.spans import substring_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "AAAABBBBCCCCDDDDEEEE----later-unique-1"),
            (2, "zz-AAAABBBBCCCCDDDDEEEE-yy-IIIIJJJJKKKKLLLL"),
            (3, "IIIIJJJJKKKKLLLLMMMM-unrelated-tail"),
            (4, "short shared bit"),  # < L with everything
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.a_id, r.b_id, r.a_start, r.b_start, r.run_len)
        for r in substring_span_pairs(docs, min_len=16).collect()
    }
    # doc1[1..21] == doc2[4..24] ("AAAABBBBCCCCDDDDEEEE-"), maximal;
    # doc2[28..43] == doc3[1..16] ("IIIIJJJJKKKKLLLL")
    assert got == {(1, 2, 1, 4, 21), (2, 3, 28, 1, 16)}


def test_remove_spans_merges_overlaps_and_keeps_gaps(spark):
    """Overlapping spans on one doc merge into one removed interval;
    the kept gaps reassemble in order; lower-id doc is untouched."""
    from llamadb_spark.operators.spans import remove_spans

    docs = spark.createDataFrame(
        [(7, "0123456789abcdefghij")], ["doc_id", "text"]
    )
    spans = spark.createDataFrame(
        [
            (1, 7, 1, 3, 5),   # removes [3, 8) = "23456"
            (1, 7, 1, 6, 4),   # removes [6, 10) — overlaps above
            (1, 7, 1, 15, 3),  # removes [15, 18) = "efg"
        ],
        ["a_id", "b_id", "a_start", "b_start", "run_len"],
    )
    rows = remove_spans(docs, spans).collect()
    assert len(rows) == 1
    r = rows[0]
    # merged intervals: [3,10) and [15,18) -> keep "01"+"9abcd"+"hij"
    assert (r.doc_id, r.n_spans, r.removed_chars, r.clean_text) == (
        7, 2, 10, "019abcdhij"
    )


def test_substring_spans_hot_gram_cap(spark):
    """A gram occurring at more positions than the cap is excluded
    from seeding (occupancy discipline), so an all-identical mega-
    cluster yields no pairs under a tiny cap but full pairs without."""
    from llamadb_spark.operators.spans import substring_span_pairs

    same = "identical-text-identical-text-identical!"
    docs = spark.createDataFrame(
        [(i, same) for i in range(6)], ["doc_id", "text"]
    )
    capped = substring_span_pairs(docs, min_len=40, max_gram_occ=3)
    assert capped.count() == 0
    uncapped = substring_span_pairs(docs, min_len=40, max_gram_occ=100)
    # 6 identical docs -> C(6,2) full-length spans
    assert uncapped.count() == 15
    assert all(r.run_len == 40 for r in uncapped.collect())


def test_duplication_profile_counts_merged_union(spark):
    """Per-group duplication: overlapping spans on one doc count once
    (merged union), unaffected docs count in totals only, per-mille
    is exact integer arithmetic."""
    from llamadb_spark.operators.spans import duplication_profile

    docs = spark.createDataFrame(
        [
            (1, "0123456789abcdefghij", "web"),   # 20 chars, affected
            (2, "x" * 30, "web"),                  # 30 chars, clean
            (3, "y" * 50, "books"),                # 50 chars, clean
        ],
        ["doc_id", "text", "source"],
    )
    spans = spark.createDataFrame(
        [
            (9, 1, 1, 3, 5),   # doc1 [3,8)
            (9, 1, 1, 6, 4),   # doc1 [6,10) — overlaps: union [3,10)=7
        ],
        ["a_id", "b_id", "a_start", "b_start", "run_len"],
    )
    rows = {
        r.source: (
            r.n_docs, r.n_affected, r.total_chars, r.dup_chars,
            r.dup_permille,
        )
        for r in duplication_profile(docs, spans).collect()
    }
    assert rows == {
        "web": (2, 1, 50, 7, 140),    # 7/50 = 140 per-mille exactly
        "books": (1, 0, 50, 0, 0),
    }


def test_intra_doc_repeats_exact_offsets(spark):
    """Within-doc repeat detection: exact offsets for a planted
    repeat, nothing for repeat-free docs, and periodic stutter
    reported with overlapping occurrences."""
    from llamadb_spark.operators.spans import intra_doc_repeat_spans

    docs = spark.createDataFrame(
        [
            # "HELLO-WORLD-SEGMENT!" (20 chars) at pos 1 and pos 31
            (1, "HELLO-WORLD-SEGMENT!--filler--HELLO-WORLD-SEGMENT!x"),
            (2, "no internal repetition in this string at all ok"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.first_start, r.second_start, r.run_len)
        for r in intra_doc_repeat_spans(docs, min_len=16).collect()
    }
    assert got == {(1, 1, 31, 20)}


def test_intra_doc_apply_removes_second_occurrences(spark):
    """d23 semantics: the second occurrence of a repeated run ≥ L is
    cut, the first kept; periodic stutter collapses to its leading
    segment (overlapping occurrence intervals merge)."""
    from llamadb_spark.operators.spans import (
        intra_doc_repeat_spans,
        remove_spans,
    )

    seg = "abcdefghijklmnop"  # 16 chars, L=16 below
    docs = spark.createDataFrame(
        [
            # plain repeat: PREFIX <seg> MID <seg> TAIL
            (1, "0123456789" + seg + "QRSTUVWXYZ" + seg + "#tail#"),
            # periodic stutter: seg repeated 4x back-to-back
            (2, "HEAD:" + seg * 4 + ":END"),
            (3, "no repeats here, nothing to cut at all"),
        ],
        "doc_id long, text string",
    )
    spans = intra_doc_repeat_spans(docs, min_len=16, max_gram_occ=100)
    iv = spans.select(
        spans.doc_id.alias("b_id"),
        spans.second_start.alias("b_start"),
        "run_len",
    )
    got = {r.doc_id: r for r in remove_spans(docs, iv).collect()}
    assert set(got) == {1, 2}
    # doc 1: second <seg> removed, everything else intact
    assert got[1].clean_text == "0123456789" + seg + "QRSTUVWXYZ" + "#tail#"
    assert got[1].removed_chars == len(seg)
    # doc 2: stutter collapses to ONE leading segment
    assert got[2].clean_text == "HEAD:" + seg + ":END"
    assert got[2].removed_chars == 3 * len(seg)


def test_quality_dedup_reps_policy(spark, sf_dir):
    """d24: the kept member of every cluster has the maximal t28
    logit among its members (doc_id tie-break), and cluster
    membership matches connected_components."""
    from pyspark.sql.functions import col

    from llamadb_spark.operators import dedup, textops
    from llamadb_spark.queries.pipeline import (
        JACCARD_THRESHOLD,
        STOP_SHINGLE_DF,
        T28_BIAS_MICRO,
        T28_WEIGHTS_MICRO,
        _docs,
        d24_quality_dedup_reps,
    )

    docs = _docs(spark, sf_dir)
    reps = {
        r.cluster_id: r for r in d24_quality_dedup_reps(spark, sf_dir).collect()
    }
    assert reps
    pairs = dedup.jaccard_ngram_pairs(
        docs, threshold=JACCARD_THRESHOLD, stop_shingle_df=STOP_SHINGLE_DF
    ).select("a_id", "b_id")
    cc = dedup.connected_components(pairs).collect()
    logit = {
        r.doc_id: r.logit_micro
        for r in textops.linear_quality_score(
            docs, weights_micro=T28_WEIGHTS_MICRO, bias_micro=T28_BIAS_MICRO
        ).collect()
    }
    members: dict = {}
    for r in cc:
        members.setdefault(r.cluster_id, []).append(r.node)
    assert set(members) == set(reps)
    for cid, nodes in members.items():
        best = min(nodes, key=lambda n: (-logit[n], n))
        assert reps[cid].keep_id == best
        assert reps[cid].n_members == len(nodes)
        assert reps[cid].keep_logit_micro == logit[best]


def test_line_dedup_strips_boilerplate_keep_first(spark, sf_dir):
    """d25 vs a Python reference implementation of C4 keep-first line
    dedup over the same seeded corpus: per-source boilerplate headers
    survive only in their first doc, and repetitive docs lose their
    internal duplicate slices too (keep-first is corpus-wide)."""
    from llamadb_spark.queries.pipeline import (
        D25_LINE_W,
        _docs,
        d25_line_dedup,
    )

    rows = {r.doc_id: r for r in d25_line_dedup(spark, sf_dir).collect()}
    docs = sorted(
        _docs(spark, sf_dir).select("doc_id", "source", "text").collect(),
        key=lambda r: r.doc_id,
    )
    # reference: explode all lines in (doc_id, line_no) order, keep
    # the first occurrence of each distinct line
    w = D25_LINE_W
    all_lines = []
    for r in docs:
        lines = ["hdr-" + r.source + "-boilerplate"] + [
            r.text[i : i + w] for i in range(0, len(r.text), w)
        ]
        for ln, line in enumerate(lines):
            all_lines.append((r.doc_id, ln, line))
    seen = set()
    want = {}
    for did, ln, line in sorted(all_lines):
        nl, nr, kept = want.setdefault(did, [0, 0, []])
        want[did][0] += 1
        if line in seen:
            want[did][1] += 1
        else:
            seen.add(line)
            want[did][2].append(line)
    assert set(rows) == set(want)
    for did, (n_lines, n_removed, kept) in want.items():
        assert rows[did].n_lines == n_lines, did
        assert rows[did].n_removed == n_removed, did
        assert rows[did].clean_text == "\n".join(kept), did
    # the headline case: each source's header survives exactly once
    n_sources = len({r.source for r in docs})
    header_removals = sum(
        1 for did, ln, line in all_lines
        if ln == 0 and rows[did].n_removed > 0
        and "boilerplate" not in rows[did].clean_text
    )
    assert header_removals == len(docs) - n_sources


def test_line_dedup_hot_line_no_content_window(spark):
    """VERDICT r08 #1 stress: one boilerplate line present in EVERY
    doc (the C4 site-chrome case, >=50%% of docs sharing a line). The
    keep-first plan must have NO Window node at all — the previous
    row_number() over (partition by line) funneled every occurrence
    of the hot line into one non-splittable task (AQE splits joins,
    not windows); the fix is groupBy(line).min(struct) + join-back,
    whose partial agg map-side-combines the hot line and whose join
    IS AQE-skew-splittable. Also covers ADVICE r08: an empty-text doc
    yields a header-only row, not two spurious body lines."""
    import pyspark.sql.functions as F

    from llamadb_spark.queries import pipeline_dedup as P

    # 200 docs, all from one source -> every doc shares the header
    # line; doc texts distinct so bodies survive
    docs = spark.createDataFrame(
        [(i, "s0", f"body-{i:04d}-" + "z" * 70) for i in range(200)]
        + [(999, "s0", "")],  # empty-text doc: header-only
        "doc_id long, source string, text string",
    )
    orig = P._docs
    try:
        P._docs = lambda spark, sf_dir: docs
        out = P.d25_line_dedup(spark, "ignored")
        rows = {r.doc_id: r for r in out.collect()}
    finally:
        P._docs = orig
    # plan shape: zero Window nodes anywhere (keep-first is agg+join)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, "keep-first must not use a window"
    # hot line kept exactly once: doc 0 keeps it, 200 others lose it
    kept_header = [
        d for d, r in rows.items() if "hdr-s0-boilerplate" in r.clean_text
    ]
    assert kept_header == [0]
    assert sum(r.n_removed for r in rows.values()) == 200
    # empty-text doc: exactly the header line, nothing spurious
    r999 = rows[999]
    assert r999.n_lines == 1 and r999.n_removed == 1
    assert r999.clean_text == ""
