"""Physical-plan audit across the full query inventory.

Scans every ``queries()`` entry's formatted plan for the hazards that
kill 100 TB runs long before correctness does:

- CartesianProduct        unbounded pairwise blowup
- BatchEvalPython         row-at-a-time Python in the plan
- ArrowEvalPython         pandas_udf in a hot SQL path (flagged info)
- broadcast count         so corpus-sized broadcasts stand out
- PushedFilters/ReadSchema presence on parquet scans

Usage: python tools/plan_audit.py [sf_dir]
Exit code 1 if any hard hazard (cartesian / row-Python) is found.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def audit_plan(plan: str) -> dict:
    return {
        "cartesian": plan.count("CartesianProduct"),
        "row_python": plan.count("BatchEvalPython"),
        "arrow_python": plan.count("ArrowEvalPython"),
        "map_in_pandas": plan.count("MapInPandas"),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "scans": plan.count("Scan parquet"),
        "pushed": plan.count("PushedFilters:"),
    }


def main() -> int:
    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from llamadb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    hard_hazards = 0
    print(f"{'query':28s} cart pyRow pyArrow mapPd bhj bnlj smj shj scans")
    for name, fn in e.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} ERROR {str(ex)[:80]}")
            hard_hazards += 1
            continue
        a = audit_plan(plan)
        flag = ""
        if a["cartesian"] or a["row_python"]:
            flag = "  <-- HAZARD"
            hard_hazards += 1
        print(
            f"{name:28s} {a['cartesian']:4d} {a['row_python']:5d} "
            f"{a['arrow_python']:7d} {a['map_in_pandas']:5d} {a['bhj']:3d} "
            f"{a['bnlj']:4d} {a['smj']:3d} {a['shj']:3d} {a['scans']:5d}{flag}"
        )
    print(f"{'HAZARDS' if hard_hazards else 'CLEAN'}: {hard_hazards}")
    return 1 if hard_hazards else 0


if __name__ == "__main__":
    sys.exit(main())
