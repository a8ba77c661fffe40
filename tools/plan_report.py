"""Physical-plan inventory over every query key.

Writes PLAN_REPORT.md: per key — exchange count, whole-stage-codegen
span count, whether the parquet scan carries pushed filters, Arrow
Python stages, broadcast-hint count, and the top-level physical
operators. The plan-shape facts the 100 TB review cares about,
generated from the real optimizer output rather than claimed.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from llamadb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in e.queries().items():
        df = fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        analyzed = qe.analyzed().toString()
        rows.append(
            {
                "key": name,
                "exchanges": plan.count("Exchange"),
                "codegen": "AQE"
                if "AdaptiveSparkPlan" in plan
                else len(
                    set(re.findall(r"\*\((\d+)\)", plan))
                    | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
                ),
                "pushed": "PushedFilters: [I" in plan or "PushedFilters: [A" in plan
                or bool(re.search(r"PushedFilters: \[[^\]]", plan)),
                "arrow": ("ArrowEvalPython" in plan)
                or ("MapInPandas" in plan)
                or ("FlatMapGroupsInPandas" in plan),
                "hints": analyzed.count("ResolvedHint"),
                "cartesian": "CartesianProduct" in plan,
            }
        )

    lines = [
        "# PLAN_REPORT — physical-plan inventory (generated by tools/plan_report.py)",
        "",
        f"SF dir: `{sf_dir}`. Facts read from `executedPlan` — exchange count,",
        "distinct WholeStageCodegen spans (`AQE` = adaptive plan, codegen",
        "finalizes at runtime), parquet pushed filters present, Arrow-batched",
        "Python stages, broadcast hints, cartesian products.",
        "",
        "| key | exchanges | codegen spans | pushed filters | arrow | hints | cartesian |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for r in rows:
        lines.append(
            f"| {r['key']} | {r['exchanges']} | {r['codegen']} | "
            f"{'yes' if r['pushed'] else '—'} | {'yes' if r['arrow'] else '—'} | "
            f"{r['hints']} | {'YES' if r['cartesian'] else '—'} |"
        )
    n_cart = sum(r["cartesian"] for r in rows)
    n_arrow = sum(r["arrow"] for r in rows)
    lines += [
        "",
        f"Totals: {len(rows)} keys, {n_cart} cartesian products, "
        f"{n_arrow} Arrow-Python keys "
        "(the sanctioned vector/media set — see tests/test_plan_audit.py).",
        "",
        "Note: `e24_transition_stream`'s row describes the BATCH",
        "aggregation over its drained streaming output (the",
        "applyInPandasWithState operator itself runs inside the",
        "availableNow drain and has no batch physical plan) — counts",
        "for that key cover the post-drain Markov rollup only.",
        "",
    ]
    with open(os.path.join(REPO, "PLAN_REPORT.md"), "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote PLAN_REPORT.md ({len(rows)} keys, {n_cart} cartesian)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
