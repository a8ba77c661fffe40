"""Static source audit: the scale anti-patterns that the plan audit
can't see (they hide inside operator bodies, not plans) must never
grow silently. Every driver-side materialization in non-test source
is enumerated here WITH its boundedness argument; adding one means
adding an allowlist entry and a justification, same discipline as
the broadcast-hint and global-window audits in test_plan_audit.py.

Rules:
- `.toPandas()`, `.coalesce(1)`, `.repartition(1)`: forbidden
  outright in llamadb_spark/ (single-task materializations).
- `.collect()`: only at the allowlisted (file, count) sites below,
  each provably bounded.
- `.rdd` / `sparkContext.parallelize`: forbidden in queries/
  (the DataFrame-first contract); operators may touch the context
  only for broadcast variables.
- `.localCheckpoint(`, `.checkpoint(`, `.cache()`, `.persist(`: only
  in session.py (``stage``); `Observation(` only there and at the
  allowlisted sites below.
- `.read.parquet(`: only in session.py (``read_parquet``).
- `drop_hot_keys(`: every call passes its ``entities=`` bound or has
  a comment right above it saying why it cannot.
- `applyInPandasWithState(`: once, in streaming/reorder.py;
  `awaitTermination(`: once, in streaming/streams.py (``drain``);
  `ProcessingTimeTimeout`: nowhere, not even in a docstring.
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.join(os.path.dirname(__file__), "..", "llamadb_spark")

#: file (repo-relative) -> max allowed comment-stripped .collect()
#: occurrences, each justified:
#:   dedup.py:    connected components' driver-side finish — the
#:     staged edge list, collected only when its observed row count
#:     is at most _LOCAL_MAX_EDGES (the gate in _stage_edges)
#:   similarity.py: (1) capped broadcast collect with explicit raise
#:     beyond max_broadcast_rows, (2) n_cells centroid seeds,
#:     (3) K·d per-cell means, (4) MMR pool collect ≤ pool rows,
#:     (5) PQ codebook seeds (n_codes rows), (6) PQ per-(sub, code)
#:     Lloyd means (m·k rows), (7) PQ query vectors for the ADC
#:     lookup tables (|query_ids| rows), (8) IVF-PQ query vectors
#:     for probe cells + ADC tables (|query_ids| rows, s17),
#:     (9) residual-PQ codebook seeds (n_codes rows) and
#:     (10) residual per-(sub, code) Lloyd means (m·k rows) — the
#:     IVFADC trainer's twins of (5)/(6)
#:   pipeline.py: s10's and s15's 1-row query-vector fetches
#:     (orderBy+limit(1) each)
_COLLECT_ALLOW = {
    "operators/dedup.py": 1,
    "operators/similarity.py": 10,
    "queries/pipeline.py": 2,
    # 1-row max-timestamp scalar for the watermark sentinel staging
    "streaming/streams.py": 1,
    # persisted IVF-PQ index: model load (n_cells + m·n_codes small
    # rows) + the 1-row manifest and 1-row params reads of the
    # versioned store (round 10)
    "operators/ann_index.py": 3,
}

#: file (repo-relative) -> allowed comment-stripped ``Observation(``
#: occurrences outside ``session.stage``, each justified:
#:   sql/dialect.py: MERGE's cardinality check — two counts observed
#:     on the two sides of the commit's join, UNDER the join (not on a
#:     checkpoint), read by ``_observed_rows``
_OBSERVATION_ALLOW = {"sql/dialect.py": 2}

_STAGING = re.compile(
    r"\.localCheckpoint\(|\.checkpoint\(|\.cache\(\)|\.persist\("
)
_OBSERVATION = re.compile(r"\bObservation\(")
_FORBIDDEN = re.compile(r"\.toPandas\(\)|\.coalesce\(1\)|\.repartition\(1\)")
_COLLECT = re.compile(r"\.collect\(\)")
# .rdd.getNumPartitions() is exempt: a metadata-only partition-count
# probe (the loader's single-row-group rebalance check), no RDD
# compute path involved
_RDD = re.compile(
    r"\.rdd\b(?!\.getNumPartitions)|sparkContext\.parallelize"
)


def _code_lines(path: str):
    for line in open(path, encoding="utf-8").read().splitlines():
        yield line.split("#")[0]


def _sources():
    for f in glob.glob(os.path.join(ROOT, "**", "*.py"), recursive=True):
        yield os.path.relpath(f, ROOT).replace(os.sep, "/"), f


def test_no_single_task_materializations():
    hits = {}
    for rel, f in _sources():
        n = sum(len(_FORBIDDEN.findall(c)) for c in _code_lines(f))
        if n:
            hits[rel] = n
    assert not hits, f"single-task materializations: {hits}"


def test_collect_only_at_bounded_allowlisted_sites():
    over = {}
    for rel, f in _sources():
        n = sum(len(_COLLECT.findall(c)) for c in _code_lines(f))
        if n > _COLLECT_ALLOW.get(rel, 0):
            over[rel] = (n, _COLLECT_ALLOW.get(rel, 0))
    assert not over, (
        "unallowlisted driver-side collect (actual, allowed) — add a "
        f"boundedness justification above: {over}"
    )


def test_no_rdd_anywhere_in_package():
    """Round 10 (VERDICT r09 #7): the RDD ban extends from queries/
    to the ENTIRE package — .rdd forfeits Catalyst, codegen, and AQE,
    so any use must be a deliberate, listed exception. The only
    remaining exemption is the metadata-only
    .rdd.getNumPartitions() probe (built into _RDD), used by the
    loader's single-row-group rebalance check
    (queries/pipeline_common.py) — no RDD compute path involved.
    The last compute-path use (dialect.py's df.rdd.isEmpty(), which
    forced a Python->RDD conversion just to probe emptiness) now
    uses DataFrame.isEmpty(), which drives a limit(1) query plan."""
    hits = {}
    for rel, f in _sources():
        n = sum(len(_RDD.findall(c)) for c in _code_lines(f))
        if n:
            hits[rel] = n
    assert not hits, f"RDD usage in the DataFrame-first package: {hits}"


def test_one_staging_primitive():
    """Every materialized intermediate goes through ``session.stage``:
    no other module checkpoints, caches or persists a frame, and no
    other module builds an Observation beyond the allowlisted ones, so
    how an intermediate is staged (and what it reports) is decided in
    one place."""
    over = {}
    for rel, f in _sources():
        if rel == "session.py":
            continue
        code = list(_code_lines(f))
        staged = sum(len(_STAGING.findall(c)) for c in code)
        observed = sum(len(_OBSERVATION.findall(c)) for c in code)
        if staged or observed > _OBSERVATION_ALLOW.get(rel, 0):
            over[rel] = (staged, observed)
    assert not over, (
        "staging outside session.stage (checkpoint/cache/persist, "
        f"Observation) — use stage(): {over}"
    )


def _call_args(code: list[str], i: int, start: int) -> str:
    """The argument text of the call whose ``(`` is at ``code[i][start]``,
    across lines, up to the matching ``)``."""
    depth, out = 0, []
    for line in [code[i][start:]] + code[i + 1:]:
        for ch in line:
            depth += {"(": 1, ")": -1}.get(ch, 0)
            out.append(ch)
            if depth == 0:
                return "".join(out)
    raise AssertionError("unbalanced call")


def test_hot_key_guards_are_bounded():
    """Every ``drop_hot_keys`` call passes its ``entities=`` bound (the
    entity count that lets the guard skip itself when no key can pass
    the cap) or carries a comment right above it saying why it has
    none, so a guard that plans a shuffle and a broadcast the staged
    data rules out is a deliberate choice."""
    pat = re.compile(r"\bdrop_hot_keys\(")
    bare = []
    for rel, f in _sources():
        raw = open(f, encoding="utf-8").read().splitlines()
        code = [line.split("#")[0] for line in raw]
        for i, line in enumerate(code):
            m = pat.search(line)
            if not m or line.lstrip().startswith("def "):
                continue
            if "entities=" in _call_args(code, i, m.end() - 1):
                continue
            if i == 0 or not raw[i - 1].lstrip().startswith("#"):
                bare.append(f"{rel}:{i + 1}")
    assert not bare, f"hot-key guard with neither a bound nor a reason: {bare}"


def test_one_exactly_once_gate():
    """Every versioned foreachBatch sink commits through
    streaming/ivm.py's gate (``gated_drain``): the batch-id ledger read
    and the stamped commit (``write_version`` with a ``batch_id``) are
    called nowhere else, so no second replay rule can drift from the
    first."""
    pat = re.compile(r"\bcommitted_batches\(|\bwrite_version\(.*\bbatch_id=")
    hits = sorted(
        rel
        for rel, f in _sources()
        if rel != "streaming/ivm.py"
        and any(pat.search(c) for c in _code_lines(f))
    )
    assert not hits, f"exactly-once ledger used outside the gate: {hits}"


def test_one_parquet_reader():
    """Every parquet read in the package goes through
    ``session.read_parquet``, which never asks Spark to infer a schema
    it has already seen: no other module reads parquet without handing
    the reader a ``.schema(...)``."""
    pat = re.compile(r"\.read\.parquet\(")
    hits = sorted(
        rel
        for rel, f in _sources()
        if rel != "session.py"
        and pat.search(re.sub(r"\s+", "", "".join(_code_lines(f))))
    )
    assert not hits, f"schema-less parquet read, use read_parquet: {hits}"


def test_one_timing_loop():
    """bench.py and every tool time keys through tools/timing.py: the
    noop sink that executes a timed plan is written nowhere else, so
    no second warm-up/repeat loop can drift from the first."""
    repo = os.path.join(os.path.dirname(__file__), "..")
    files = [os.path.join(repo, "bench.py")] + glob.glob(
        os.path.join(repo, "tools", "*.py")
    )
    pat = re.compile(r"""\.write\.format\(\s*["']noop["']""")
    hits = sorted(
        os.path.relpath(f, repo)
        for f in files
        if os.path.basename(f) != "timing.py"
        and any(pat.search(c) for c in _code_lines(f))
    )
    assert not hits, f"noop-sink timing loop outside tools/timing.py: {hits}"


def test_one_reorder_skeleton():
    """The stateful event operators run on streaming/reorder.py's one
    event-time skeleton: ``applyInPandasWithState`` is called only
    there, no processing-time timer exists anywhere (the reason a
    finite drain could loop forever), and every finite drain waits
    through the one wait in ``streams.drain``."""
    calls, awaits, processing_time = {}, {}, []
    for rel, f in _sources():
        code = list(_code_lines(f))
        n = sum(c.count("applyInPandasWithState(") for c in code)
        if n:
            calls[rel] = n
        n = sum(c.count("awaitTermination(") for c in code)
        if n:
            awaits[rel] = n
        if "ProcessingTimeTimeout" in open(f, encoding="utf-8").read():
            processing_time.append(rel)
    assert calls == {"streaming/reorder.py": 1}, calls
    assert awaits == {"streaming/streams.py": 1}, awaits
    assert not processing_time, processing_time
