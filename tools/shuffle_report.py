"""Measured data-movement profile over every query key.

Executes each key at the given SF and reads the EXECUTED plan's
SQLMetrics (not estimates): total shuffle bytes/records written
across all Exchange nodes, parquet scan bytes/rows, and any
spill — the numbers that decide whether a plan survives a 100 TB
cluster, measured instead of asserted. Writes SHUFFLE_REPORT.md.

Complements PLAN_REPORT.md (static plan shapes: exchange counts,
codegen spans, pushed filters); this report is the runtime half.

Usage: python tools/shuffle_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metrics(node) -> dict:
    try:
        m = node.metrics()
        it = m.iterator()
        vals = {}
        while it.hasNext():
            kv = it.next()
            vals[str(kv._1())] = kv._2().value()
        return vals
    except Exception:
        return {}


def collect_metrics(plan) -> dict:
    """Sum the interesting SQLMetrics over the whole adaptive tree."""
    tot = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "scan_bytes": 0,
        "scan_rows": 0,
        "spill_bytes": 0,
        "n_exchanges": 0,
    }

    def walk(node):
        name = node.nodeName()
        m = _metrics(node)
        if name.startswith("Exchange"):
            tot["n_exchanges"] += 1
            tot["shuffle_bytes"] += int(m.get("shuffleBytesWritten", 0))
            tot["shuffle_records"] += int(m.get("shuffleRecordsWritten", 0))
        if name.startswith("Scan"):
            tot["scan_bytes"] += int(m.get("filesSize", 0))
            tot["scan_rows"] += int(m.get("numOutputRows", 0))
        tot["spill_bytes"] += int(m.get("spillSize", 0)) + int(
            m.get("memoryBytesSpilled", 0)
        )
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))
        if name == "AdaptiveSparkPlan":
            try:
                walk(node.executedPlan())
            except Exception:
                pass
        elif "QueryStage" in name:
            try:
                walk(node.plan())
            except Exception:
                pass

    walk(plan)
    return tot


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from llamadb_spark.session import get_spark

    # one or two SF dirs: with two, the report adds per-key shuffle
    # GROWTH between them (VERDICT r06 #8 — one order of magnitude is
    # enough to show data movement growing with output/candidates
    # rather than corpus^2 on the dedup families)
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01"]
    spark = get_spark("shuffle-report")
    spark.sparkContext.setLogLevel("ERROR")

    per_sf: dict[str, dict[str, dict]] = {}
    for sf_dir in sf_dirs:
        rows = {}
        for name, fn in e.queries().items():
            df = fn(spark, sf_dir)
            out_rows = len(df.collect())
            rows[name] = collect_metrics(
                df._jdf.queryExecution().executedPlan()
            )
            rows[name]["out_rows"] = out_rows
        per_sf[sf_dir] = rows

    base_dir = sf_dirs[0]
    main_dir = sf_dirs[-1]
    base = per_sf[base_dir]
    rows = per_sf[main_dir]

    def mb(b: int) -> str:
        return f"{b / 1048576:.2f}"

    two = len(sf_dirs) > 1
    hdr = (
        "| key | shuffle MB | shuffle rows | scan MB | scan rows | "
        "exchanges | spill MB |"
    )
    sep = "| --- | --- | --- | --- | --- | --- | --- |"
    if two:
        hdr += f" shuffle MB @{base_dir.rsplit('/', 1)[-1]} | growth x |"
        sep += " --- | --- |"
    lines = [
        "# SHUFFLE_REPORT — measured data movement per key "
        "(generated by tools/shuffle_report.py)",
        "",
        f"SF dir: `{main_dir}`. Every key EXECUTED; numbers are the "
        "executed plan's own SQLMetrics",
        "(shuffleBytesWritten / shuffleRecordsWritten summed over "
        "Exchange nodes, parquet",
        "filesSize / numOutputRows over scans, spill if any) — "
        "runtime truth, not estimates.",
    ]
    if two:
        lines += [
            "",
            f"Growth column: shuffle bytes at `{main_dir}` / shuffle "
            f"bytes at `{base_dir}` (same plan, 10x the corpus): a "
            "ratio well under the corpus-growth square is the "
            "measured no-blowup evidence per key.",
        ]
    lines += ["", hdr, sep]
    for name, r in rows.items():
        line = (
            f"| {name} | {mb(r['shuffle_bytes'])} | "
            f"{r['shuffle_records']} | {mb(r['scan_bytes'])} | "
            f"{r['scan_rows']} | {r['n_exchanges']} | "
            f"{mb(r['spill_bytes'])} |"
        )
        if two:
            b = base.get(name, {})
            bb = b.get("shuffle_bytes", 0)
            growth = (r["shuffle_bytes"] / bb) if bb else float("nan")
            line += f" {mb(bb)} | {growth:.1f} |"
        lines.append(line)
    tot_sh = sum(r["shuffle_bytes"] for r in rows.values())
    tot_spill = sum(r["spill_bytes"] for r in rows.values())
    top = sorted(rows.items(), key=lambda kv: -kv[1]["shuffle_bytes"])[:10]
    lines += [
        "",
        f"Totals: {len(rows)} keys, {mb(tot_sh)} MB shuffled, "
        f"{mb(tot_spill)} MB spilled.",
    ]
    if two:
        tot_base = sum(r["shuffle_bytes"] for r in base.values())
        lines += [
            "",
            f"Total at `{base_dir}`: {mb(tot_base)} MB shuffled — "
            f"overall growth {tot_sh / max(tot_base, 1):.1f}x for a "
            "10x corpus.",
        ]
    # --- candidate mass vs engine cost (VERDICT r09 #4) -------------
    # For the pair-generating dedup/graph families, superlinear
    # shuffle GROWTH between SFs is expected whenever the DATA's
    # candidate mass grows superlinearly (near-dup pair count is
    # quadratic in per-key duplicate multiplicity, not in corpus
    # size). Decompose bytes growth = records growth x bytes-per-
    # record growth: records growth is the candidate-mass axis (how
    # many rows the plan had to move — data), bytes-per-record growth
    # is the engine axis (how much wider each moved row got — a plan
    # regression if it climbs). A key is adjudicated
    # candidate-mass-driven when the engine factor stays ~flat.
    _PAIR_KEYS = (
        "d02_jaccard_ngram", "d03_minhash_lsh", "d04_simhash",
        "d14_containment_pairs", "d16_threshold_sweep",
        "d17_pair_provenance", "d18_minhash_calibration",
        "g02_degree_histogram",
    )
    if two:
        lines += [
            "",
            "## Candidate mass vs engine cost (pair-generating keys)",
            "",
            "bytes growth = records growth (candidate mass — data) x "
            "B/rec growth (engine). Adjudication: >12x bytes growth "
            "is benign iff the engine factor is ~1.",
            "",
            "| key | rows out @base/@main | shuffle recs @base/@main "
            "| rec growth | B/rec @base/@main | engine factor | "
            "verdict |",
            "| --- | --- | --- | --- | --- | --- | --- |",
        ]
        # every >12x-bytes key gets an adjudication line, whether or
        # not it is a known pair-generating key
        over_keys = [
            k
            for k, r in rows.items()
            if k not in _PAIR_KEYS
            and base.get(k, {}).get("shuffle_bytes", 0)
            and r["shuffle_bytes"]
            / max(base[k]["shuffle_bytes"], 1)
            > 12
        ]
        for name in list(_PAIR_KEYS) + sorted(over_keys):
            r, b = rows.get(name), base.get(name)
            if not r or not b:
                continue
            rg = r["shuffle_records"] / max(b["shuffle_records"], 1)
            bpr_b = b["shuffle_bytes"] / max(b["shuffle_records"], 1)
            bpr_m = r["shuffle_bytes"] / max(r["shuffle_records"], 1)
            eng = bpr_m / max(bpr_b, 1e-9)
            bg = r["shuffle_bytes"] / max(b["shuffle_bytes"], 1)
            if bg <= 12:
                verdict = f"within bound ({bg:.1f}x bytes)"
            elif eng <= 1.5:
                verdict = (
                    f"candidate-mass-driven ({bg:.1f}x bytes = "
                    f"{rg:.1f}x records x {eng:.2f}x width)"
                )
            else:
                verdict = (
                    f"ENGINE REGRESSION SUSPECT ({bg:.1f}x bytes, "
                    f"width x{eng:.2f})"
                )
            lines.append(
                f"| {name} | {b['out_rows']}/{r['out_rows']} | "
                f"{b['shuffle_records']}/{r['shuffle_records']} | "
                f"{rg:.1f}x | {bpr_b:.0f}/{bpr_m:.0f} B | "
                f"{eng:.2f}x | {verdict} |"
            )

    lines += [
        "",
        "Top shufflers: "
        + ", ".join(
            f"{k} ({mb(r['shuffle_bytes'])} MB)" for k, r in top
        )
        + ".",
        "",
        "Note: `e24_transition_stream` is measured on its post-drain",
        "batch rollup (the stateful operator runs inside the",
        "availableNow drain). Keys built on driver-bounded collects",
        "(s10's MMR pool, IVF seeding) count only their distributed",
        "stages here, which is the point: the driver-side pieces are",
        "bounded by construction and audited separately",
        "(tests/test_source_hygiene.py).",
        "",
    ]
    with open(os.path.join(REPO, "SHUFFLE_REPORT.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(
        f"wrote SHUFFLE_REPORT.md ({len(rows)} keys, "
        f"{mb(tot_sh)} MB shuffled, {mb(tot_spill)} MB spilled)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
