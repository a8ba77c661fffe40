"""Larger-SF spot bench: scaling evidence sf0.1 cannot give (VERDICT
r10 "What's wrong #4" / "Next round #4").

At sf0.1 every key is fixed-overhead dominated and 32 cores never
beat 8, so the 100 TB story rested on plan shapes alone. This tool
builds a ×N scaled copy of the inputs the expensive keys actually
scan and times those keys at two core counts, producing real
parallelism ratios at a data size where compute dominates. Run at
several --scale values, the same keys give a scaling exponent (t ~
rows^e) at fixed cores, e.g. d12_semantic_dedup_lsh's LSH pair
generation or d19_substring_spans' span detector.

Scaling construction (replica i of N, written once to --out-dir):
- documents: doc_id += i*ID_STRIDE and every whitespace token gets a
  replica prefix (``r{i}<tok>``), so cross-replica docs share NO
  shingles/char-grams — the dedup/span pair structure stays LINEAR
  in N (a plain copy would make every doc an N-fold near-duplicate
  and change the complexity class of the self-joins, which is not
  how a bigger corpus behaves).
- embeddings: id += i*ID_STRIDE and the vector is rotated by i
  dimensions — within-replica cosine structure identical,
  cross-replica pairs decorrelated (below LSH thresholds), again
  keeping candidate-pair growth linear.
- events: user_id/event_id += i*ID_STRIDE, timestamps unchanged —
  N× the users and N× the rows per window, the realistic growth
  shape for the event/stream keys.

The scaled outputs are NOT oracle-checked (the DuckDB oracle pins
sf dirs); this is a measurement harness, not a correctness one —
correctness at the real SFs is the driver's CORRECTNESS_r11 job.

Usage:
  python tools/scale_spot_bench.py --sf-dir /root/testdata/sf0.1 \
      --scale 8 --cpus 32 --keys p19_pipeline_manifest d12_... \
      [--out-dir /tmp/llamadb_scaled] [--repeats 2] [--stage-only]

Run it once per core count (fresh process per count, like the
driver's own c8 run). Prints one JSON line with per-key seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ID_STRIDE = 100_000  # max sf0.1 doc_id ~5e3; 8 replicas stay < 1e6
                     # (the d19/p18 eval-twin namespace starts at 1e6)


def stage(spark, sf_dir: str, out_dir: str, n: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, f".staged_x{n}")
    if os.path.exists(marker):
        return
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = len(emb.select("embedding").first()["embedding"])

    d_parts, e_parts, v_parts = [], [], []
    for i in range(n):
        off = i * ID_STRIDE
        text = (
            F.regexp_replace("text", r"(\S+)", f"r{i}$1")
            if i
            else F.col("text")
        )
        d_parts.append(
            docs.select(
                (F.col("doc_id") + off).alias("doc_id"),
                text.alias("text"),
                F.length(text).alias("n_chars"),
                *[
                    c
                    for c in docs.columns
                    if c not in ("doc_id", "text", "n_chars")
                ],
            )
        )
        rot = i % dim
        e_parts.append(
            emb.select(
                (F.col("vec_id") + off).alias("vec_id"),
                (
                    F.concat(
                        F.slice("embedding", rot + 1, dim - rot),
                        F.slice("embedding", 1, rot),
                    )
                    if rot
                    else F.col("embedding")
                ).alias("embedding"),
                *[
                    c
                    for c in emb.columns
                    if c not in ("vec_id", "embedding")
                ],
            )
        )
        v_parts.append(
            ev.select(
                (F.col("event_id") + off).alias("event_id"),
                (F.col("user_id") + off).alias("user_id"),
                *[c for c in ev.columns if c not in ("event_id", "user_id")],
            )
        )
    from functools import reduce

    reduce(lambda a, b: a.unionByName(b), d_parts).repartition(
        8 * n
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    reduce(lambda a, b: a.unionByName(b), e_parts).repartition(
        8 * n
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    # events must be ONE part file: the streaming reader symlinks
    # {sf_dir}/events.parquet as a single file into its drop dir, so
    # a multi-file directory would stream empty.
    import shutil as _sh
    import tempfile as _tf

    _evtmp = _tf.mkdtemp(prefix="llamadb_scaled_ev_")
    reduce(lambda a, b: a.unionByName(b), v_parts).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_evtmp)
    part = next(f for f in os.listdir(_evtmp) if f.endswith(".parquet"))
    _sh.copyfile(
        os.path.join(_evtmp, part), f"{out_dir}/events.parquet"
    )
    # the TPCH tables the composed keys touch are read as-is (they
    # are not the scaling question; symlinks keep the dir complete)
    for f in os.listdir(sf_dir):
        dst = os.path.join(out_dir, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f), dst)
    open(marker, "w").close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--scale", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--keys", nargs="+", required=True)
    ap.add_argument("--out-dir", default="/tmp/llamadb_scaled")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--stage-only", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    import __spark_entry__ as e
    from llamadb_spark.session import get_spark
    from tools.timing import time_keys, total_s

    out_dir = f"{args.out_dir}_x{args.scale}"
    spark = get_spark(f"scale-spot-c{args.cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    stage(spark, args.sf_dir, out_dir, args.scale)
    if args.stage_only:
        print(json.dumps({"staged": out_dir}))
        return 0
    runs = time_keys(spark, e.queries(), out_dir, args.keys, args.repeats)
    timings = {}
    for name, rs in runs.items():
        secs = [round(total_s(r), 3) for r in rs]
        timings[name] = {"min": min(secs), "runs": secs}
    print(
        json.dumps(
            {
                "scale": args.scale,
                "cpus": args.cpus,
                "sf_dir": args.sf_dir,
                "queries": timings,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
