"""Suite-wide physical-plan invariants over the ENTIRE query
inventory: the hazards that kill 100 TB runs must never appear in
any query's plan.

- CartesianProduct: an unbounded pairwise blowup — every pairwise
  operator here must go through blocking/bucketing keys instead.
- BatchEvalPython: row-at-a-time Python, forbidden everywhere.
- Any other Python physical node (Arrow or pandas: MapInPandas,
  MapInArrow, FlatMapGroupsInPandas, ArrowEvalPython, ...) is
  allowed only in the media/vector operators and sequence packing,
  never in SQL surface queries.

Every key is built once per module (`built`), with its eager
barriers, and every invariant reads that one DataFrame.

Runs at sf0.001 so planning stays cheap; plan shape is SF-invariant
(modulo AQE thresholds, which only swap join strategies, never
introduce these nodes).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

#: Physical operators that run Python (Arrow or pandas) workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPythonUDTF",
    "PythonMapInArrow",
)


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """Every key's DataFrame, built once for all audits below."""
    return {name: fn(spark, sf_dir) for name, fn in entry_mod.queries().items()}


@pytest.fixture(scope="module")
def formatted(built):
    return {name: plan(df) for name, df in built.items()}


def test_no_cartesian_or_row_python_anywhere(formatted):
    offenders = {}
    for name, p in formatted.items():
        bad = [
            node
            for node in ("CartesianProduct", "BatchEvalPython")
            if node in p
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan hazards: {offenders}"


#: Explicit broadcast() hints are a promise to the planner that the
#: relation is SMALL AT ANY SCALE. Each entry below is the max hint
#: count for that key, and every hinted relation falls in a provably
#: bounded class:
#:   - dimension tables: region/nation/supplier/part subsets
#:     (q03/q04/q06/q07/q12/q16/q22/q24/q40/q43/q44, h03-h21, e07,
#:     p05/p07/p08, s06/s07, q20, e15)
#:   - scalar / few-row aggregates: one-row counts, per-group consts
#:     (t09/t12/t14/t15 n_docs scalars, q07 scalar subquery)
#:   - capped candidate or hot-key lists: df-threshold hot-shingle
#:     lists, LSH occupancy caps, fixed query sets
#:     (d03/d11/s01/s02/s03/p02, t09 query terms)
#: The count is of every ResolvedHint, so the pair generators' join
#: strategy hints count too: the self-join's two ``shuffle_hash``
#: sides are what d02's plan holds at test scale. Their hot-key guard
#: (functions/blocking.drop_hot_keys) is planned only once the staged
#: entity count (docs, signatures, vectors) exceeds its cap, and then
#: adds its broadcast back, once per join side (d13: once); the
#: budgets below are what the plans hold with the guard skipped.
#: Keys NOT listed must carry ZERO hints — in particular the
#: drop-list / cluster-map / vocabulary joins (d07, d08, p10, and
#: t15's df table), whose size is data-dependent: there AQE picks
#: broadcast vs shuffle from runtime sizes. Adding a hint to a new
#: key must add an entry here with its boundedness argument.
_ALLOWED_HINTS = {
    "q03_cross_join_where": 1, "q04_inner_join": 1,
    "q06_correlated_subquery": 1, "q07_scalar_subquery": 1,
    "q12_in_subquery": 1, "q16_revenue_by_nation": 3,
    "q20_pivot": 1, "q22_anti_join": 1, "q24_corr_agg_subquery": 2,
    "q40_conditional_agg": 1, "q43_min_cost_supplier": 1,
    "q44_market_share": 2,
    "h03_shipping_priority": 1, "h05_local_supplier_volume": 3,
    "h07_volume_shipping": 4, "h09_product_type_profit": 3,
    "h10_returned_items": 2, "h11_important_stock": 1,
    "h14_promo_effect": 1, "h16_supplier_counts": 2,
    "h18_large_orders": 2, "h19_discounted_revenue": 1,
    "h20_potential_promotion": 2, "h21_waiting_suppliers": 1,
    "d02_jaccard_ngram": 2,
    # banded recall attestation: d02's exact pair plan (2) + the LSH
    # candidate plan's own self-join hints (2)
    "d03_minhash_lsh": 4,
    "d14_containment_pairs": 2,  # same shape as d02
    "g02_degree_histogram": 2,  # pair generation is the d02 plan
    "e18_bot_users": 1,  # 1-row mean+3sigma scalar
    "t20_quality_deciles": 1,  # 9-value cut-point array scalar
    "d09_shared_longrun": 2, "d11_editdist_pairs": 2,
    "s01_knn_bruteforce": 1, "s02_lsh_ann": 2,
    # the IVF probe set: |KNN_QUERY_IDS| (8) x nprobe rows
    "s03_ivf_ann": 1,
    "t13_heavy_hitters": 1,  # 1-row token-total scalar
    # BM25: query-bounded df table + avgdl/n_docs 1-row scalars
    "t27_bm25_rank": 3,
    "s15_hybrid_rrf": 3,  # the BM25 pool subtree's hints
    # MMR attestation: 2x pairwise-diversity joins (2 k-bounded
    # broadcasts each) + three 1-row scalar crossJoins + the MMR
    # pool/centroid hints of the operator itself
    "s10_mmr_rerank": 9,
    "s09_pca_project": 1,  # 1-row variance-total scalar crossJoin
    "s11_rerank_ann": 1,  # caller-bounded query set
    "s06_centroid_sim": 1, "s07_centroid_classify": 2,
    "p02_contamination": 1, "p05_tombstone_delete": 1,
    "p07_mixture_sample": 1, "p08_dq_report": 1,
    "p11_weighted_sample": 1,  # 1-row total-weight scalar
    "t09_tfidf_rank": 2, "t12_pmi_collocations": 1,
    "t14_unigram_logprob": 1, "t15_doc_keywords": 1,
    "e07_stream_enrich": 1, "e15_rolling_wau": 1,
    "t21_source_overlap": 2,  # per-source set-size table, n_sources rows
    "s12_cluster_balance": 1,  # 1-row total scalar
    "p13_winsorize": 1,  # per-language clip-bounds table, n_langs rows
    "s13_filtered_knn": 1,  # caller-bounded query set (|KNN_QUERY_IDS|)
    "d16_threshold_sweep": 2,  # the d02 pair-generation plan's hints
    "t24_quality_bands": 1,  # 1-row corpus-total scalar (t14's plan)
    "s14_silhouette": 1,  # packed centroid table, |labels| rows
    "d17_pair_provenance": 2,  # the d02 pair-generation plan's hints
    "e23_weekly_churn": 1,  # 1-row max-week scalar
    # partition-count-bounded offsets table + two 1-row scalars
    "e20_user_concentration": 3,
    # caller-bounded cross-modal query set (|M07_QUERY_DOCS| rows)
    "m07_crossmodal_knn": 1,
    # n_langs-row count/weight/threshold tables (the third hint's
    # subtree nests the first two, so the analyzed plan counts 4)
    "p17_alpha_mixture": 4,
    # the d03 minhash pair-generation plan's hints
    "d18_minhash_calibration": 2,
    # PQ: per-query ADC lookup tables (|queries|·m rows) + the
    # rerank's caller-bounded query-vector broadcast
    "s16_pq_ann": 2,
    # IVF-PQ: probe set (|queries|·nprobe rows) + ADC tables
    # (|queries|·m rows) + rerank query-vector broadcast — all
    # caller-bounded by KNN_QUERY_IDS
    "s17_ivfpq_ann": 3,
    # persisted-index query: probe set + ADC tables + rerank query
    # vectors — all caller-bounded by KNN_QUERY_IDS (s17's shapes)
    "s18_index_query": 3,
    # per-domain rate table: bounded by the SEEDED domain universe
    # (<= 4096 ids by construction of the 20-bit hash cube); the
    # operator default (real crawls, ~30M domains) is hint-free and
    # lets AQE decide — see urls.domain_cap_sample
    "p20_domain_caps": 1,
}


def test_broadcast_hints_only_on_bounded_relations(built):
    over = {}
    for name, df in built.items():
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n = analyzed.count("ResolvedHint")
        if n > _ALLOWED_HINTS.get(name, 0):
            over[name] = (n, _ALLOWED_HINTS.get(name, 0))
    assert not over, (
        "broadcast hints on relations not in the bounded allowlist "
        f"(actual, allowed): {over}"
    )


#: Window nodes with an EMPTY partition spec funnel their whole input
#: through one task (Spark's "No Partition Defined for Window" path —
#: the classic scale-up OOM). Forbidden suite-wide, except where the
#: window's input is provably row-bounded, documented per key:
#:   - t17_zipf_slope: window over the top-100 tokens (TakeOrdered
#:     bound precedes it) — 100 rows max.
#:   - q60_rows_frame: trailing-MA window over pre-aggregated DAILY
#:     rows — calendar-bounded (~2.4k rows for the events span).
#:   - e20_user_concentration: offsets running-sum over the
#:     per-partition COUNTS table inside distributed_row_number —
#:     one row per shuffle partition, cluster-config-bounded. (The
#:     user-sized rank window this key used to have was removed in
#:     round 5; the budget of 1 keeps it from coming back.)
#: Any new unpartitioned window must add its row-bound here.
_ALLOWED_GLOBAL_WINDOWS = {
    "t17_zipf_slope": 1,
    "q60_rows_frame": 1,
    "e20_user_concentration": 1,
    # mean-recall band over the per-query recall table —
    # |KNN_QUERY_IDS| (8) rows max
    "s03_ivf_ann": 1,
    # rank windows over the two top-POOL retrieval lists —
    # HYBRID_POOL (50) rows max each
    "s15_hybrid_rrf": 2,
    # mean-recall band over the per-query recall table (s03's shape)
    # — |KNN_QUERY_IDS| (8) rows max
    "s16_pq_ann": 1,
    # same banded shape — |KNN_QUERY_IDS| (8) rows max
    "s17_ivfpq_ann": 1,
    # same banded shape over the persisted-index query path
    "s18_index_query": 1,
}


def _unpartitioned_windows(df) -> int:
    n = [0]

    def walk(node):
        if node.nodeName() == "Window":
            try:
                if node.partitionSpec().isEmpty():
                    n[0] += 1
            except Exception:
                pass
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return n[0]


def test_no_unpartitioned_window_over_unbounded_input(built):
    over = {}
    for name, df in built.items():
        n = _unpartitioned_windows(df)
        if n > _ALLOWED_GLOBAL_WINDOWS.get(name, 0):
            over[name] = (n, _ALLOWED_GLOBAL_WINDOWS.get(name, 0))
    assert not over, (
        "unpartitioned Window over unbounded input (single-task sort "
        f"at scale) — (actual, allowed): {over}"
    )


#: Windows partitioned ONLY by unbounded-cardinality CONTENT columns
#: (doc text / exploded line / shingle gram / token) concentrate every
#: occurrence of the hottest value into ONE window partition — and
#: AQE's skew handling splits JOINS, not windows, so a boilerplate
#: line present in half the corpus becomes a single task sorting
#: billions of rows (the d25 r08 finding). Content keys may appear in
#: a partition spec only ALONGSIDE a per-entity key (doc_id etc.) that
#: bounds the partition. Keep-first/keep-one over raw content must be
#: the groupBy(content).agg(min_by(...)) + join-back shape instead:
#: the partial agg is map-side combinable and the join-back is
#: AQE-skew-splittable.
_CONTENT_COLS = ("text", "line", "gram", "shingle", "clean_text", "token")


def _content_partitioned_windows(df) -> list:
    import re

    hits = []
    pat = re.compile(
        r"\b(" + "|".join(_CONTENT_COLS) + r")#\d+"
    )

    def walk(node):
        if node.nodeName() == "Window":
            # No try/except: if the py4j surface for partitionSpec()
            # ever changes, the audit must FAIL LOUDLY, not silently
            # treat every window as partition-free (ADVICE r09).
            spec = node.partitionSpec()
            exprs = [
                spec.apply(i).toString() for i in range(spec.length())
            ]
            if exprs:
                content = [e for e in exprs if pat.search(e)]
                # hazard only when EVERY partition key is content —
                # (doc_id, gram) is doc-bounded and fine
                if content and len(content) == len(exprs):
                    hits.append(exprs)
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return hits


def test_no_window_partitioned_by_raw_content(built):
    over = {}
    for name, df in built.items():
        hits = _content_partitioned_windows(df)
        if hits:
            over[name] = hits
    assert not over, (
        "Window partitioned only by unbounded-cardinality content "
        "columns (hot value -> one non-splittable task; AQE splits "
        f"joins, not windows): {over}"
    )


def test_arrow_python_only_in_vector_media_ops(formatted):
    # Arrow-batched Python is the sanctioned slow path, but ONLY for
    # operators whose hot kernel is a dense-linear-algebra or media
    # op Spark SQL can't express efficiently (block-matmul cosine,
    # hyperplane-LSH projection, media decode — higher-order-function
    # formulations of these run interpreted, never codegen). SQL
    # queries must stay fully JVM-side.
    allowed_prefixes = (
        "d05", "m02", "s03", "s02", "d12", "m06", "s12", "t26", "m07",
        # PQ: codebook Lloyd assignment + m-int encoding are dense
        # block-matmul kernels (same class as s03's IVF passes)
        "s16",
        # IVF-PQ: the same two kernels composed (cell assignment +
        # code assignment in one Arrow pass)
        "s17",
        # s18 (persisted-index query) is DELIBERATELY NOT listed:
        # its deployment claim is that query time does zero training
        # work — no Arrow stage at all — so this audit enforces it.
    )
    # First-fit-decreasing sequence packing (operators/packing.py) is
    # a sequential greedy per shard, run as one grouped pandas call
    # per shard: p03 and the pipeline that packs (p19) hold that node
    # (a sanction no longer used is stale slack and fails), and no
    # other Python node.
    packing_prefixes = ("p03", "p19")
    offenders = {}
    for name, p in formatted.items():
        nodes = [node for node in PYTHON_NODES if node in p]
        if name.startswith(packing_prefixes):
            assert "FlatMapGroupsInPandas" in nodes, f"{name}: stale sanction"
            nodes.remove("FlatMapGroupsInPandas")
        if nodes and not name.startswith(allowed_prefixes):
            offenders[name] = nodes
    assert not offenders, (
        "Python in the plans of keys that are not sanctioned "
        f"vector/media operators: {offenders}"
    )


def test_d05_blocked_cosine_is_one_arrow_map(formatted):
    """The exact blocked cosine runs one mapInArrow call per
    partition, not one grouped pandas call per block pair."""
    p = formatted["d05_embed_neardup"]
    assert "MapInArrow" in p
    assert "FlatMapGroupsInPandas" not in p


def test_span_apply_detector_runs_once(built):
    """r11 regression guard: remove_spans stages the merged-interval
    table, so the span DETECTOR (gram explode -> occupancy window ->
    self-join, marked by xxhash64 gram projections) executes during
    DataFrame build and must NOT appear in the final plan — before
    the staging, d20's plan held THREE detector copies (66
    Exchanges). A reappearing xxhash64 here means a consumer of
    `merged` re-derives the detector again."""
    for key, max_exchanges in [
        ("d20_substring_apply", 30),
        ("d23_intra_doc_apply", 25),
        ("p18_span_decontaminate", 30),
    ]:
        plan = built[key]._jdf.queryExecution().executedPlan().toString()
        assert "xxhash64" not in plan, f"{key}: detector re-inlined"
        n_ex = plan.count("Exchange")
        assert n_ex <= max_exchanges, f"{key}: {n_ex} Exchanges"
