"""Measure the BPE replace-chain encode along the MERGE-TABLE axis
(VERDICT r09 #1: t30's chain had only ever run at the 47-merge demo
table while the docstring invites production merge lists — a 50k-merge
chain is a 50k-deep Catalyst expression tree).

For each merge-table size: build the chain Column (py4j roundtrips),
analyze it (Catalyst over the deep tree), execute it over a 5k-word
vocabulary, and record whether the stage kept whole-stage codegen or
fell back to interpreted expressions (Janino's 64KB method limit).
Where the chain fails outright (analyzer StackOverflowError), that is
the measurement.  The Arrow vocab-encode path (operators/bpe.py
``bpe_encode_vocab``) is timed on the same vocabulary for comparison.

Run: python tools/bpe_scale_eval.py [sizes...]   (default 256 1024 8192 32768)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def synth_merges(n: int, max_len: int = 12):
    """Deterministic well-formed merge table of size n: every side is
    a single letter or an earlier product, products unique and capped
    at max_len chars (real trained tables keep products short)."""
    tokens = [chr(c) for c in range(97, 123)]
    products: set[str] = set()
    merges: list[tuple[str, str]] = []
    i = 0
    while len(merges) < n:
        if i > 200 * n + 10_000:
            raise RuntimeError(f"generator stuck at {len(merges)}/{n}")
        a = tokens[(i * 2654435761) % len(tokens)]
        b = tokens[(i * 40503 + 17) % len(tokens)]
        i += 1
        p = a + b
        if len(p) > max_len or p in products:
            continue
        products.add(p)
        tokens.append(p)
        merges.append((a, b))
    return merges


def synth_words(n: int = 5000):
    words = []
    h = 1
    for i in range(n):
        h = (h * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        ln = 4 + (h % 14)
        w = "".join(
            chr(97 + ((h >> (7 * j)) % 26)) for j in range(int(ln))
        )
        words.append(w)
    return words


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [256, 1024, 8192, 32768]
    from pyspark.sql import functions as F
    from llamadb_spark.session import get_spark
    from llamadb_spark.operators import bpe

    spark = get_spark("bpe_scale_eval")
    words = synth_words()
    vocab = spark.createDataFrame(
        [(w,) for w in words], "word string"
    ).repartition(8).cache()
    vocab.count()

    for n in sizes:
        merges = synth_merges(n)
        row = {"merges": n}
        t0 = time.perf_counter()
        try:
            c = bpe.bpe_encoded(F.col("word"), merges)
            df = vocab.select(
                "word",
                (
                    F.length(c)
                    - F.length(F.replace(c, F.lit("|"), F.lit("")))
                ).cast("long").alias("n_tok"),
            )
            _ = df.schema  # force analysis
            row["chain_build_analyze_s"] = round(time.perf_counter() - t0, 2)
            plan = df._jdf.queryExecution().executedPlan().toString()
            row["whole_stage_codegen"] = "WholeStageCodegen" in plan
            t1 = time.perf_counter()
            chain = {r.word: r.n_tok for r in df.collect()}
            row["chain_exec_s"] = round(time.perf_counter() - t1, 2)
        except Exception as e:  # noqa: BLE001 — the failure IS the datum
            row["chain_error"] = f"{type(e).__name__}: {str(e)[:160]}"
            chain = None

        t2 = time.perf_counter()
        adf = bpe.bpe_encode_vocab(
            vocab, merges, max_chain_merges=0
        ).select("word", "n_tok")
        arrow = {r.word: r.n_tok for r in adf.collect()}
        row["arrow_total_s"] = round(time.perf_counter() - t2, 2)
        if chain is not None:
            row["paths_equal"] = chain == arrow
        print(row, flush=True)


if __name__ == "__main__":
    main()
