"""The per-key timing kernel shared by ``bench.py`` and the timing
tools (``paired_bench.py``, ``profile_keys.py``,
``scale_spot_bench.py``).

Importing this module imports nothing from ``llamadb_spark`` and
leaves ``sys.path`` alone: the paired runner loads it by file path
and must time the ``llamadb_spark`` its own phase put on the path.
"""

from __future__ import annotations

import gc
import time

#: One tiny key warms the JVM and the file listing before any timing.
WARMUP_KEY = "q09_order_limit"


def _sink(df) -> None:
    """Execute the full plan without collecting anything to the
    driver: the time is engine time, not serialization time."""
    df.write.format("noop").mode("overwrite").save()


def time_keys(spark, queries, sf_dir, keys, repeats):
    """Time ``repeats`` runs of every key in ``keys``, in order.

    Returns ``{key: [run, ...]}``; each run is a dict with ``t0`` (its
    epoch start), ``build_s`` (time in ``queries[key](spark, sf_dir)``:
    DataFrame construction, including eager build-phase jobs) and
    ``exec_s`` (the noop-sink write).
    """
    _sink(queries[WARMUP_KEY](spark, sf_dir))
    out = {}
    for i, name in enumerate(keys):
        runs = []
        for _ in range(repeats):
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            t1 = time.time()
            _sink(df)
            t2 = time.time()
            runs.append({"t0": t0, "build_s": t1 - t0, "exec_s": t2 - t1})
        out[name] = runs
        if i % 10 == 9:
            # Drop py4j refs to finished keys' DataFrames so the
            # ContextCleaner can release their localCheckpoint blocks;
            # pinned checkpoint RDDs otherwise pile up in the block
            # manager and slow the tail of a sweep (measured ~2x on
            # the checkpoint-heavy dedup keys).
            gc.collect()
    return out


def total_s(run) -> float:
    return run["build_s"] + run["exec_s"]


def median_min(runs) -> tuple[float, float]:
    """A key's (median, min) wall time over its runs, rounded to ms:
    the median is the reported time, the min the least-contended run."""
    ts = sorted(total_s(r) for r in runs)
    mid = len(ts) // 2
    med = ts[mid] if len(ts) % 2 else (ts[mid - 1] + ts[mid]) / 2
    return round(med, 3), round(ts[0], 3)
