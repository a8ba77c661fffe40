"""IVFADC residual-vs-plain recall sweep on a CLUSTERED corpus
(VERDICT r08 #3).

Round 8 measured residual PQ (Jégou et al. 2011 §V proper) LOSING to
plain PQ on the repo's near-isotropic synthetic embeddings — an
expected outcome (r = x − centroid ≈ x when centroids carry no mass)
that left the knob "documented for clustered corpora" without ever
being measured on one. This tool builds a mixture-of-Gaussians
embedding corpus with real cluster structure (k* centers, per-point
noise sigma·N(0, I), unit-normalized), runs the identical recall
sweep plain-vs-residual at matched code budgets, and prints one JSON
line per configuration — the measurement that belongs next to the
docstring's negative result.

Usage: python tools/residual_eval.py [n] [d] [k_clusters] [sigma]
Defaults: 20000 64 16 0.15.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_clustered(n: int, d: int, k: int, sigma: float, seed: int = 7):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((k, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.integers(0, k, size=n)
    x = centers[assign] + sigma * rng.standard_normal((n, d))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def main() -> int:
    sys.path.insert(0, REPO)
    from llamadb_spark.operators.similarity import ivfpq_topk, knn_bruteforce
    from llamadb_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    d = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    kc = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    sigma = float(sys.argv[4]) if len(sys.argv) > 4 else 0.15

    spark = get_spark("residual-eval")
    spark.sparkContext.setLogLevel("ERROR")
    x = make_clustered(n, d, kc, sigma)
    emb = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).cache()
    emb.count()

    k = 5
    query_ids = [3, 997, 4242, 9001, 13337, 17777, 5555, 11111]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(emb, query_ids, k=k).collect()
    }

    for shortlist in (25, 50):
        for residual in (False, True):
            got = {
                (r.query_id, r.neighbor_id)
                for r in ivfpq_topk(
                    emb,
                    query_ids,
                    k=k,
                    shortlist=shortlist,
                    n_cells=16,
                    nprobe=8,
                    n_subspaces=16,
                    n_codes=32,
                    iters=2,
                    residual=residual,
                ).collect()
            }
            recall = len(got & exact) / len(exact)
            print(
                json.dumps(
                    {
                        "corpus": {
                            "n": n, "d": d, "k_clusters": kc,
                            "sigma": sigma,
                        },
                        "shortlist": shortlist,
                        "residual": residual,
                        "recall_at_5": round(recall, 4),
                    }
                ),
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
