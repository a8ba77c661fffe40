"""Paired A/B timing of a reference commit against the working tree.

Timings taken hours apart differ by ~±10% from ambient machine drift
alone, so a code change is judged against its reference inside one
run: the reference commit is exported into a temporary tree, and six
singly-alternating fresh-process phases A(ref) B(head) ×3 time the
same keys, each key twice per phase (a cold and a warm run). Per key,
the paired ratio is head/ref of the MIN over each side's runs (the
least-contended run, the number a plan change must move to be real).
Single-phase alternation matters: an ABBA cut was defeated by an
ambient slowdown that arrived mid-run and persisted, landing entirely
on the B side.

A key is a real regression only if its paired ratio is materially
> 1 in this protocol; absolute seconds are not comparable across
machine-hours.

Usage:
    python tools/paired_bench.py <ref_commit> [sf_dir [key ...]]
sf_dir defaults to $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1; no
keys means every registered key. Writes paired_bench.json at the
repo root and prints a summary.

Each phase loads the timing kernel (tools/timing.py) of THIS checkout
by file path, imports ``llamadb_spark`` from its own tree only, and
fails if that import resolves anywhere else.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KERNEL = os.path.join(REPO, "tools", "timing.py")
RUNS_PER_PHASE = 2

_RUNNER = r"""
import importlib.util, json, os, sys
tree, kernel, sf_dir, out_path, repeats, *keys = sys.argv[1:]
sys.path.insert(0, tree)
import llamadb_spark
where = os.path.realpath(llamadb_spark.__file__)
if not where.startswith(os.path.realpath(tree) + os.sep):
    raise SystemExit(f"phase for {tree} imported llamadb_spark from {where}")
spec = importlib.util.spec_from_file_location("timing_kernel", kernel)
timing = importlib.util.module_from_spec(spec)
spec.loader.exec_module(timing)
from llamadb_spark.queries import all_queries
from llamadb_spark.session import get_spark
spark = get_spark("paired-bench")
spark.sparkContext.setLogLevel("ERROR")
qs = all_queries()
# CANONICAL (sorted) key order, NOT registry order: the registry is
# an evidence-rotation queue that reorders every round, so registry-
# order sweeps put different keys in the cold early slots on each
# side and the ratios read rotation position, not code.
keys = [k for k in keys if k in qs] if keys else sorted(qs)
runs = timing.time_keys(spark, qs, sf_dir, keys, int(repeats))
with open(out_path, "w") as fh:
    json.dump({
        "llamadb_spark": where,
        "min": {k: round(min(map(timing.total_s, r)), 3)
                for k, r in runs.items()},
    }, fh)
"""


def _export(ref: str) -> str:
    """The tree of ``ref`` in a fresh temporary directory."""
    tree = tempfile.mkdtemp(prefix=f"paired_ref_{ref[:12]}_")
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", ref],
        capture_output=True, check=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(tree)
    return tree


def _run_phase(tree: str, sf_dir: str, keys: list[str], tag: str) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        out_path = f.name
    subprocess.run(
        [sys.executable, "-c", _RUNNER, tree, KERNEL, sf_dir, out_path,
         str(RUNS_PER_PHASE), *keys],
        check=True,
        cwd=tree,
        env={**os.environ, "PYTHONPATH": tree},
    )
    with open(out_path) as fh:
        res = json.load(fh)
    os.unlink(out_path)
    print(f"phase {tag}: llamadb_spark from {res['llamadb_spark']}",
          flush=True)
    return res


def main() -> int:
    args = sys.argv[1:]
    if not args:
        raise SystemExit(__doc__)
    ref = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", args[0] + "^{commit}"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    sf_dir = args[1] if len(args) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    keys = args[2:]
    tree = _export(ref)
    try:
        phases = []
        for cycle in range(1, 4):
            phases.append(("A", _run_phase(tree, sf_dir, keys, f"A{cycle}(ref)")))
            phases.append(("B", _run_phase(REPO, sf_dir, keys, f"B{cycle}(head)")))
    finally:
        shutil.rmtree(tree, ignore_errors=True)
    side = {
        s: [res["min"] for t, res in phases if t == s] for s in ("A", "B")
    }
    shared = sorted(set(side["A"][0]) & set(side["B"][0]))
    per_key = {}
    for k in shared:
        a = min(r[k] for r in side["A"])
        b = min(r[k] for r in side["B"])
        per_key[k] = {
            "ref_min": a,
            "head_min": b,
            "ratio": round(b / a, 3) if a > 0 else None,
        }
    ratios = [v["ratio"] for v in per_key.values() if v["ratio"]]
    result = {
        "ref": ref,
        "sf_dir": sf_dir,
        "runs_per_phase": RUNS_PER_PHASE,
        "llamadb_spark": {
            f"{t}{i // 2 + 1}": res["llamadb_spark"]
            for i, (t, res) in enumerate(phases)
        },
        "n_shared_keys": len(shared),
        "new_keys": sorted(set(side["B"][0]) - set(side["A"][0])),
        "median_ratio": round(statistics.median(ratios), 3),
        "mean_ratio": round(statistics.fmean(ratios), 3),
        "per_key": per_key,
        "regressions_gt_1_2": {
            k: v for k, v in per_key.items()
            if v["ratio"] and v["ratio"] > 1.2
        },
        "improvements_lt_0_8": {
            k: v for k, v in per_key.items()
            if v["ratio"] and v["ratio"] < 0.8
        },
    }
    with open(os.path.join(REPO, "paired_bench.json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in result.items() if k != "per_key"},
                     indent=1))
    worst = sorted(
        per_key.items(), key=lambda kv: -(kv[1]["ratio"] or 0)
    )[:10]
    print("worst paired ratios:")
    for k, v in worst:
        print(f"  {k}: {v['ratio']} ({v['ref_min']}s -> {v['head_min']}s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
