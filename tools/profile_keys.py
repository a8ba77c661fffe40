"""Per-key wall-time attribution: build vs execute vs driver gaps.

Usage: python tools/profile_keys.py <sf_dir> key [key ...]

Times each key once with the shared kernel (tools/timing.py), then
reads every job's timeline from the Spark UI REST API and charges it
to the key whose run window contains its submission:
- build_s: time in queries[name](spark, sf_dir) — python DataFrame
  construction, py4j round trips, eager localCheckpoints.
- exec_s:  time in the noop-sink write.
- jobs:    per-job duration and start relative to the key's run, so
  driver-side gaps (planning, collect round trips) are visible.

Reads the same env contract as bench.py. Output: one JSON line/key.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from llamadb_spark.queries import all_queries  # noqa: E402
from llamadb_spark.session import get_spark  # noqa: E402
from tools.timing import time_keys  # noqa: E402


def _epoch(ui_time: str) -> float:
    t = datetime.strptime(ui_time, "%Y-%m-%dT%H:%M:%S.%fGMT")
    return t.replace(tzinfo=timezone.utc).timestamp()


def _ui_jobs(sc) -> list[dict]:
    """(id, submit, complete, description) of every finished job."""
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url) as r:
        data = json.load(r)
    out = []
    for j in data:
        sub, comp = j.get("submissionTime"), j.get("completionTime")
        if sub and comp:
            out.append({
                "id": j["jobId"],
                "submit": _epoch(sub),
                "complete": _epoch(comp),
                "desc": (j.get("description") or "")[:60],
            })
    return sorted(out, key=lambda j: j["id"])


def main() -> int:
    sf_dir, keys = sys.argv[1], sys.argv[2:]
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    spark = get_spark("profile-keys")
    spark.sparkContext.setLogLevel("ERROR")
    runs = time_keys(spark, all_queries(), sf_dir, keys, 1)
    try:
        jobs = _ui_jobs(spark.sparkContext)
    except Exception as ex:  # UI may be disabled
        jobs, err = [], str(ex)[:100]
    else:
        err = None
    for name in keys:
        run = runs[name][0]
        t0, t1 = run["t0"], run["t0"] + run["build_s"] + run["exec_s"]
        row = {
            "key": name,
            "build_s": round(run["build_s"], 3),
            "exec_s": round(run["exec_s"], 3),
            "total_s": round(t1 - t0, 3),
            "jobs": [
                {
                    "id": j["id"],
                    "dur": round(j["complete"] - j["submit"], 3),
                    "start_rel": round(j["submit"] - t0, 3),
                    "desc": j["desc"],
                }
                for j in jobs
                if t0 <= j["submit"] <= t1
            ],
        }
        if err:
            row["jobs_err"] = err
        print(json.dumps(row), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
