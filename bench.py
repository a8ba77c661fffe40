"""Benchmark harness: times every registered key at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is measured with the noop sink (full plan runs, nothing
collected to the driver) — the number is engine time, not
toPandas() serialization time. The timing loop is
``tools/timing.py``; the drift probes are perfbench's.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from llamadb_spark.queries import all_queries  # noqa: E402
from llamadb_spark.queries import ATTESTATION_KEYS  # noqa: E402
from llamadb_spark.session import get_spark  # noqa: E402
from perfbench.worker import cpu_probe, spark_probe  # noqa: E402
from tools.timing import median_min, time_keys  # noqa: E402

#: Representative slice of SURVEY §2: core SQL (scan/join/agg/topk/
#: window), dedup, similarity, text, events.
HEADLINE = [
    "q01_pricing_summary",
    "q04_inner_join",
    "q05_left_join",
    "q09_order_limit",
    "q16_revenue_by_nation",
    "q18_window_rank",
    "q19_rollup",
    "a01_asof_join",
    "d01_exact_dedup",
    "d02_jaccard_ngram",
    "d03_minhash_lsh",
    "d05_embed_neardup",
    "s01_knn_bruteforce",
    "t02_quality_score",
    "t03_token_count",
    "e01_events_window",
    "e02_sessionize",
    "q21_order_count_dist",
    "q22_anti_join",
    "q23_cube",
    "r01_range_join",
    "d06_dedup_clusters",
    "s03_ivf_ann",
    "t05_vocab_topk",
    "t06_repetition",
    "m02_decode_resize",
    "q24_corr_agg_subquery",
    "e04_sliding_window",
    "e05_running_totals",
    "q26_window_suite",
    "q27_date_parts",
    "q29_grouping_sets",
    "t07_pii_scrub",
    "t08_chunk_documents",
    "p01_stratified_sample",
    "p02_contamination",
    "p03_pack_sequences",
    "s04_embed_quantize",
    "q31_percentiles",
    "e06_resample_ffill",
    "t09_tfidf_rank",
    "s05_label_centroids",
    "q39_semi_join",
    "q40_conditional_agg",
    "q42_cte_top_supplier",
    "q43_min_cost_supplier",
    "q44_market_share",
    "p04_profile",
    "t10_token_entropy",
    "s06_centroid_sim",
    "e07_stream_enrich",
    "e08_rate_anomaly",
    "p05_tombstone_delete",
    "t11_langid_confusion",
    "q45_unpivot",
    "q46_scd2_intervals",
    "h03_shipping_priority",
    "h06_revenue_forecast",
    "h07_volume_shipping",
    "h10_returned_items",
    "e09_funnel",
    "q47_window_dist",
    "q48_grouping_id",
    "e10_retention",
    "t12_pmi_collocations",
    "s07_centroid_classify",
    "p06_dataset_split",
    "m03_frame_sample",
    "q49_pagination",
    "q51_string_agg",
    "q52_histogram",
    "d08_semantic_dedup_apply",
    "h16_supplier_counts",
    "h18_large_orders",
    "h05_local_supplier_volume",
    "h09_product_type_profit",
    "h19_discounted_revenue",
    "h20_potential_promotion",
    "h21_waiting_suppliers",
    "e11_session_window",
    "e12_cdc_snapshot",
    "p07_mixture_sample",
    "s08_embed_dim_stats",
    "d09_shared_longrun",
    "d10_dedup_clusters_star",
    "h11_important_stock",
    "h12_ship_priority_class",
    "p08_dq_report",
    "e13_gap_detection",
    "m04_payload_chunks",
    "t13_heavy_hitters",
    "t14_unigram_logprob",
    "q53_mode_disc",
    "p09_exact_k_sample",
    "d11_editdist_pairs",
    "e14_conversion_latency",
    "e15_rolling_wau",
    "e16_interarrival_stats",
    "p10_leakproof_split",
    "t15_doc_keywords",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    spark = get_spark("llamadb-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # EVERY registered key is timed; the headline subset (the list
    # above, frozen since round 3) keeps `value` comparable
    # round-over-round as new keys land.
    #
    # Variance: single-run timings made a 3.9x "regression" (p03, r4)
    # indistinguishable from noise, so each key runs REPEATS times and
    # reports the MEDIAN (queries) + MIN (queries_min — the noise
    # floor: min is the least-contended run, the number a plan change
    # must move to be real). The drift probes run before and after the
    # sweep, so two runs can be told apart by the box they ran on.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    # the session's first job pays JVM warm-up (~4 s against ~0.2 s
    # warm at sf0.01): run the probe once untimed so both readings are
    # warm and compare
    spark_probe(spark)
    probes = {"cpu": [cpu_probe()], "spark": [spark_probe(spark)]}
    runs = time_keys(spark, qs, sf_dir, list(qs), repeats)
    probes["cpu"].append(cpu_probe())
    probes["spark"].append(spark_probe(spark))
    stats = {n: median_min(r) for n, r in runs.items()}
    timings = {n: med for n, (med, _) in stats.items()}
    timings_min = {n: mn for n, (_, mn) in stats.items()}

    headline = round(sum(timings[n] for n in HEADLINE if n in timings), 3)
    # VERDICT r06 #9: the banded-oracle keys run their exact
    # attestation twin alongside the scale path, so their timings mix
    # evidence cost into engine cost. Flag them so the headline can
    # be read both ways without a manual key list: `value` keeps the
    # frozen round-3 definition (comparable round-over-round);
    # `headline_scale_path` is the same sum minus attestation keys.
    headline_scale = round(
        sum(
            timings[n]
            for n in HEADLINE
            if n in timings and n not in ATTESTATION_KEYS
        ),
        3,
    )
    result = {
        "metric": "headline_queries_total_runtime",
        "value": headline,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "attestation": {n: (n in ATTESTATION_KEYS) for n in timings},
        "attestation_keys": sorted(k for k in ATTESTATION_KEYS if k in timings),
        "headline_scale_path": headline_scale,
        "bench_repeats": repeats,
        "sf": sf,
        "all_queries_total": round(sum(timings.values()), 3),
        "n_queries": len(timings),
        "probe.cpu_s": round(statistics.mean(probes["cpu"]), 3),
        "probe.spark_s": round(statistics.mean(probes["spark"]), 3),
        "probes": {k: [round(x, 3) for x in v] for k, v in probes.items()},
    }
    # Sidecar with the identical payload: the driver truncates long
    # stdout tails (BENCH_r03 kept only the last 69 queries), so
    # round-over-round diffs read the file instead.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_results.json"),
        "w",
    ) as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    # Guard the stdout contract (VERDICT r10 #8): round 9's stdout
    # JSON was truncated mid-line and cost that round its whole
    # round-over-round comparison. The printed line keeps every
    # driver-contract field ({metric, value, unit, queries, sf}) and
    # all scalar evidence, but drops the two largest redundant blobs
    # (`queries_min`, the per-key `attestation` bool map — both ~8 KB
    # and growing with the registry, both fully present in the
    # sidecar) and names the sidecar explicitly. Flushed, printed last.
    stdout_line = {
        k: v for k, v in result.items()
        if k not in ("queries_min", "attestation")
    }
    stdout_line["full_payload_sidecar"] = "bench_results.json"
    print(json.dumps(stdout_line), flush=True)


if __name__ == "__main__":
    main()
