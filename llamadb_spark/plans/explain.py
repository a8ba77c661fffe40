"""Lisp-style EXPLAIN rendering — parity with llamadb's homoiconic
query plans (Usage.md EXPLAIN: `(scan `person` (if (>= ...) (yield
...)))`, built in /root/reference/src/queryplan/mod.rs).

llamadb renders its OWN executor's s-expressions; here the optimized
Catalyst logical plan is rendered in the same notation — so the
printed tree is exactly what executes (post-pushdown, post-pruning),
keeping llamadb's "you see the entire execution" property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Catalyst node name → lisp head (llamadb vocabulary where one exists)
_NODE_NAMES = {
    "LogicalRelation": "scan",
    "Relation": "scan",
    "LogicalRDD": "scan",
    "LocalRelation": "scan",
    "Filter": "if",
    "Project": "yield",
    "Aggregate": "group-by",
    "Join": "join",
    "Sort": "sort",
    "GlobalLimit": "limit",
    "LocalLimit": "local-limit",
    "Union": "union",
    "Window": "window",
    "Distinct": "distinct",
}


def _jseq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.length())]


def _exprs(node) -> list[str]:
    try:
        return [e.sql() for e in _jseq(node.expressions())]
    except Exception:  # noqa: BLE001 — some nodes carry non-SQL expressions
        return []


def _render(node, depth: int) -> str:
    raw = node.nodeName()
    head = _NODE_NAMES.get(raw, raw.lower())
    pad = "  " * depth
    children = _jseq(node.children())

    if head == "scan":
        label = node.simpleString(40).replace("\n", " ")
        # pull the relation identifier out of e.g. "Relation [cols] parquet"
        return f"{pad}(scan `{label}`)"

    parts = [f"{pad}({head}"]
    exprs = _exprs(node)
    if exprs:
        parts[0] += " " + " ".join(f"({e})" if " " in e else e for e in exprs[:8])
        if len(exprs) > 8:
            parts[0] += f" …+{len(exprs) - 8}"
    for child in children:
        parts.append(_render(child, depth + 1))
    return "\n".join(parts) + ")"


def lisp_plan(df: DataFrame) -> str:
    """Render the OPTIMIZED logical plan as s-expressions."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return _render(plan, 0)


def formatted_plan(df: DataFrame) -> str:
    """Spark's formatted physical plan (pushdown/codegen audit)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    """Which plan features appear in the physical plan (test/bench
    helper: BroadcastHashJoin, PushedFilters, WholeStageCodegen...)."""
    p = formatted_plan(df)
    return {n: (n in p) for n in needles}
