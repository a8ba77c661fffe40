"""Similarity search tests: knn correctness, LSH recall vs the exact
pair set."""

from __future__ import annotations

from llamadb_spark.operators import similarity


def test_knn_rank1_is_argmax(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.knn_bruteforce(emb, [0, 1], k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        cosines = [r.cos for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert len(rows) == 3
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_ann_subset_of_exact(spark, sf_dir):
    """Every LSH pair must appear in the exact pair set with the
    same cosine (LSH only prunes candidates, never invents them)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.a_id, r.b_id): r.cos
        for r in similarity.embed_neardup_pairs(emb, threshold=0.3).collect()
    }
    approx = {
        (r.a_id, r.b_id): r.cos
        for r in similarity.lsh_ann_pairs(emb, threshold=0.3).collect()
    }
    assert set(approx) <= set(exact)
    for k, c in approx.items():
        assert c == exact[k]
    if exact:
        assert len(approx) / len(exact) >= 0.15  # recall floor at 6 planes


def test_blocked_pairs_match_broadcast_fast_path(spark, sf_dir):
    """The default block-pair partitioned all-pairs (no driver
    materialization) must produce the identical pair set and cosines
    as the opt-in broadcast matmul fast path — both are exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    blocked = {
        (r.a_id, r.b_id): r.cos
        for r in similarity.embed_neardup_pairs(
            emb, threshold=0.3, num_blocks=4
        ).collect()
    }
    bcast = {
        (r.a_id, r.b_id): r.cos
        for r in similarity.embed_neardup_pairs(
            emb, threshold=0.3, strategy="broadcast"
        ).collect()
    }
    assert blocked == bcast and len(blocked) > 0


def test_broadcast_fast_path_caps_driver_collect(spark, sf_dir):
    import pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="capped"):
        similarity.embed_neardup_pairs(
            emb, strategy="broadcast", max_broadcast_rows=10
        ).collect()


def test_blocked_kernel_loads_without_the_package(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The function the blocked strategy hands to mapInArrow, with
    the vector_matrix helper it calls, must load where this package
    cannot be imported (working directory outside the tree, no
    PYTHONPATH), as on a worker the package was never installed on."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    handed = []
    real = type(emb).mapInArrow

    def capture(self, func, *args, **kwargs):
        handed.append(func)
        return real(self, func, *args, **kwargs)

    monkeypatch.setattr(type(emb), "mapInArrow", capture)
    similarity.embed_neardup_pairs(emb)
    (fn,) = handed

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    loaded = subprocess.run(
        [
            sys.executable, "-c",
            "import pickle, sys; "
            "assert callable(pickle.loads(sys.stdin.buffer.read()))",
        ],
        input=cloudpickle.dumps(fn),
        cwd=tmp_path,
        env=env,
        capture_output=True,
        timeout=120,
    )
    assert loaded.returncode == 0, loaded.stderr.decode()[-2000:]


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from llamadb_spark.operators.similarity import ivf_topk, knn_bruteforce
    from llamadb_spark.queries.pipeline import KNN_K, KNN_QUERY_IDS

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(emb, KNN_QUERY_IDS, k=KNN_K).collect()
    }
    approx_rows = ivf_topk(
        emb, KNN_QUERY_IDS, k=KNN_K, n_cells=16, nprobe=4
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    # every query answered with exactly k neighbors, ranks 1..k
    per_q = {}
    for r in approx_rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == set(KNN_QUERY_IDS)
    assert all(sorted(v) == list(range(1, KNN_K + 1)) for v in per_q.values())
    # probing 4/16 cells on clustered data keeps most true neighbors
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_s07_centroid_classify_beats_chance(spark, sf_dir):
    from llamadb_spark.operators.similarity import centroid_classify

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = centroid_classify(emb)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in p and "CartesianProduct" not in p
    rows = df.collect()
    n_labels = emb.select("label").distinct().count()
    assert len(rows) == n_labels
    total = sum(r.n_vecs for r in rows)
    correct = sum(r.n_correct for r in rows)
    assert total == emb.count()
    # centroids built FROM these labels must classify far above chance
    assert correct / total > 2.0 / n_labels


def test_pca_project_variance_and_orthogonality(spark, sf_dir):
    import numpy as np

    from llamadb_spark.operators.similarity import pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pca_project(emb, k=8)
    mat = np.array([r.pc for r in out.collect()])
    assert mat.shape[1] == 8
    # principal components are uncorrelated: covariance of the
    # projection is diagonal (off-diagonal ≈ 0)
    cov = np.cov(mat, rowvar=False)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-6 * max(1.0, np.abs(cov).max()) + 1e-8
    # explained variance is sorted descending along components
    d = np.diag(cov)
    assert all(d[i] >= d[i + 1] - 1e-12 for i in range(len(d) - 1))
    # projection preserves row count and is deterministic in shape
    assert mat.shape[0] == emb.count()


def test_mmr_rerank_diversifies(spark, sf_dir):
    import numpy as np

    from llamadb_spark.operators.similarity import mmr_rerank

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.limit(1).collect()[0].embedding]

    def pairwise_mean(ids):
        rows = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
                for r in emb.filter(emb.vec_id.isin(list(map(int, ids)))).collect()}
        m = np.array([rows[i] / np.linalg.norm(rows[i]) for i in ids])
        s = m @ m.T
        n = len(ids)
        return (s.sum() - n) / (n * (n - 1))

    mmr = mmr_rerank(emb, qv, k=10, pool=50, lam=0.5)
    got = [(r.mmr_rank, r.vec_id) for r in mmr.orderBy("mmr_rank").collect()]
    assert len(got) == 10 and [r for r, _ in got] == list(range(1, 11))
    mmr_ids = [v for _, v in got]

    import pyspark.sql.functions as F

    from llamadb_spark.functions.vector import as_double, cosine

    topk_ids = [
        r.vec_id
        for r in emb.select(
            "vec_id",
            cosine(as_double(F.col("embedding")),
                   F.array(*[F.lit(x) for x in qv])).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    # diversity: MMR's selection is strictly less self-similar than
    # the plain relevance top-k (which piles onto one neighborhood)
    assert pairwise_mean(mmr_ids) < pairwise_mean(topk_ids)
    # the most relevant item is always kept first
    assert mmr_ids[0] == topk_ids[0]
    # determinism
    again = [r.vec_id for r in mmr_rerank(emb, qv, k=10, pool=50, lam=0.5)
             .orderBy("mmr_rank").collect()]
    assert again == mmr_ids


def test_rerank_ann_recall_vs_exact(spark, sf_dir):
    """Two-stage re-rank: every returned neighbor's cosine is exact
    (present in the brute-force scoring with the same value) and
    top-k recall vs s01 is high — int8 coarse scoring rarely drops a
    true top-k neighbor at 4x candidate width."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_bruteforce(emb, qids, k=5).collect()
    }
    got_rows = similarity.rerank_knn(emb, qids, k=5).collect()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got_rows) == len(qids) * 5
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"rerank recall too low: {recall}"


def test_s12_cluster_balance_mass_and_determinism(spark, sf_dir):
    from llamadb_spark.operators.similarity import ivf_cluster_sizes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    rows1 = sorted(
        (r.cell, r.n_vecs) for r in ivf_cluster_sizes(emb, n_cells=16).collect()
    )
    # every vector lands in exactly one cell, cells in range
    assert sum(c for _, c in rows1) == n
    assert all(0 <= cell < 16 for cell, _ in rows1)
    # deterministic seeds + deterministic refinement -> same partition
    rows2 = sorted(
        (r.cell, r.n_vecs) for r in ivf_cluster_sizes(emb, n_cells=16).collect()
    )
    assert rows1 == rows2


def test_lsh_auto_planes_tracks_corpus_size(spark, sf_dir):
    """num_planes='auto' sizes the bucket space so expected occupancy
    stays near target_bucket_rows regardless of corpus size — the
    guard against a fixed plane count going quadratic at scale."""
    import math

    from llamadb_spark.operators.similarity import lsh_ann_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    pairs = lsh_ann_pairs(
        emb, num_planes="auto", num_tables=4, threshold=0.4,
        target_bucket_rows=64,
    )
    # runs end-to-end and produces only verified pairs
    rows = pairs.collect()
    assert all(r.cos >= 0.4 for r in rows)
    expected_planes = max(1, math.ceil(math.log2(max(2, n / 64))))
    # occupancy check: 2^planes buckets/table keeps avg bucket <= target
    assert n / (2 ** expected_planes) <= 64


def test_semantic_dedup_pairs_default_is_lsh(spark, sf_dir):
    """The public pair-generator entry point defaults to the
    LSH-bucketed scale path; exact=True is the explicit all-pairs
    escape hatch (VERDICT r05: no default plan may contain a blocked
    all-pairs stage)."""
    from llamadb_spark.operators.similarity import (
        embed_neardup_pairs,
        lsh_ann_pairs,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dflt = {
        (r.a_id, r.b_id)
        for r in semantic_dedup_pairs(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.a_id, r.b_id)
        for r in lsh_ann_pairs(
            emb, threshold=0.4, num_planes=6, num_tables=40
        ).collect()
    }
    assert dflt == lsh
    exact = {
        (r.a_id, r.b_id)
        for r in semantic_dedup_pairs(emb, threshold=0.4, exact=True).collect()
    }
    brute = {
        (r.a_id, r.b_id)
        for r in embed_neardup_pairs(emb, threshold=0.4).collect()
    }
    assert exact == brute
    # the default path is a verified SUBSET of exhaustive ground
    # truth (precision 1.0); recall bounds live in test_dedup.py
    assert dflt <= exact


def test_pq_codebooks_deterministic_and_shaped(spark, sf_dir):
    """PQ codebooks: deterministic across runs (xxhash64 seeds, no
    RNG), correct (m, k, d_sub) shape, finite values."""
    import numpy as np

    from llamadb_spark.operators.similarity import pq_train_codebooks

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b1 = pq_train_codebooks(emb, n_subspaces=4, n_codes=8, iters=1)
    b2 = pq_train_codebooks(emb, n_subspaces=4, n_codes=8, iters=1)
    d = len(emb.select("embedding").first()[0])
    assert b1.shape == (4, 8, d // 4)
    assert np.allclose(b1, b2)
    assert np.isfinite(b1).all()


def test_pq_encode_assigns_nearest_code(spark, sf_dir):
    """Every encoded subspace index must be the argmin-distance code
    for that subvector (checked in numpy on a sample)."""
    import numpy as np

    from llamadb_spark.operators.similarity import (
        pq_encode,
        pq_train_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(40)
    books = pq_train_codebooks(emb, n_subspaces=4, n_codes=8, iters=1)
    vecs = {r.vec_id: np.asarray(r.embedding, float) for r in emb.collect()}
    m, k, ds = books.shape
    for r in pq_encode(emb, books).collect():
        x = vecs[r.vec_id]
        x = x / max(np.linalg.norm(x), 1e-12)
        for j in range(m):
            xs = x[j * ds : (j + 1) * ds]
            want = int(((books[j] - xs) ** 2).sum(axis=1).argmin())
            assert r.codes[j] == want


def test_pq_rerank_recall_beats_band(spark, sf_dir):
    """PQ shortlist → exact rerank must clear the s16 recall bands
    against brute force (the banded-oracle claim, asserted locally)."""
    from llamadb_spark.operators.similarity import (
        knn_bruteforce,
        pq_rerank_topk,
    )
    from llamadb_spark.queries.pipeline import (
        KNN_K,
        KNN_QUERY_IDS,
        S16_MIN_MEAN_RECALL,
        S16_MIN_RECALL,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = knn_bruteforce(emb, KNN_QUERY_IDS, k=KNN_K)
    approx = pq_rerank_topk(emb, KNN_QUERY_IDS, k=KNN_K)
    hits = (
        approx.join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .count()
        .collect()
    )
    rec = {r.query_id: r["count"] / KNN_K for r in hits}
    per_q = [rec.get(q, 0.0) for q in KNN_QUERY_IDS]
    assert min(per_q) >= S16_MIN_RECALL
    assert sum(per_q) / len(per_q) >= S16_MIN_MEAN_RECALL


def test_ivfpq_topk_contract_and_recall(spark, sf_dir):
    """s17 operator contract: deterministic output, dense ranks with
    descending cosine per query, and shortlist+rerank recall at
    matched probe cost no worse than IVF-exact scoring (measured
    equal — the PQ path loses nothing within the probed cells)."""
    from llamadb_spark.operators import similarity
    from llamadb_spark.queries.pipeline import KNN_K, KNN_QUERY_IDS, _emb

    emb = _emb(spark, sf_dir)
    kw = dict(k=KNN_K, shortlist=200, n_cells=16, nprobe=8, iters=1)
    a = similarity.ivfpq_topk(emb, KNN_QUERY_IDS, **kw).collect()
    b = similarity.ivfpq_topk(emb, KNN_QUERY_IDS, **kw).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        cs = [r.cos for r in rows]
        assert cs == sorted(cs, reverse=True)
        assert all(r.neighbor_id != q for r in rows)

    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, KNN_QUERY_IDS, k=KNN_K, n_cells=16, nprobe=8, iters=1
        ).collect()
    }
    exact = similarity.knn_bruteforce(emb, KNN_QUERY_IDS, k=KNN_K).collect()
    got = {(r.query_id, r.neighbor_id) for r in a}
    hits_pq = sum((r.query_id, r.neighbor_id) in got for r in exact)
    hits_ivf = sum((r.query_id, r.neighbor_id) in ivf for r in exact)
    assert hits_pq >= hits_ivf  # matched probe cost, no PQ loss


def test_ivfpq_residual_contract(spark, sf_dir):
    """IVFADC (residual=True) correctness contract: deterministic,
    dense ranks, self-excluded, and at a saturating shortlist its
    recall matches the plain-PQ path (both are ceilinged by cell
    selection; the residual form's value is corpus-dependent — see
    the measured-negative-result note in ivfpq_topk)."""
    from llamadb_spark.operators import similarity
    from llamadb_spark.queries.pipeline import KNN_K, KNN_QUERY_IDS, _emb

    emb = _emb(spark, sf_dir)
    kw = dict(k=KNN_K, shortlist=200, n_cells=16, nprobe=8, iters=1)
    a = similarity.ivfpq_topk(emb, KNN_QUERY_IDS, residual=True, **kw).collect()
    b = similarity.ivfpq_topk(emb, KNN_QUERY_IDS, residual=True, **kw).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(r.neighbor_id != q for r in rows)
    plain = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(emb, KNN_QUERY_IDS, **kw).collect()
    }
    exact = similarity.knn_bruteforce(emb, KNN_QUERY_IDS, k=KNN_K).collect()
    got = {(r.query_id, r.neighbor_id) for r in a}
    hits_res = sum((r.query_id, r.neighbor_id) in got for r in exact)
    hits_plain = sum((r.query_id, r.neighbor_id) in plain for r in exact)
    # saturating shortlist: both paths recover the same probed-cell
    # ceiling (allow 1 hit of noise)
    assert abs(hits_res - hits_plain) <= 1


def test_persisted_ivfpq_index_train_once_query_many(spark, sf_dir, tmp_path):
    """operators/ann_index.py: the persisted train-once/query-many
    deployment shape. (1) querying the persisted index returns
    EXACTLY what the in-memory ivfpq_topk returns for the same
    params (same deterministic trainers, literally the same query
    code via similarity._ivfpq_query); (2) the query-time plan does
    ZERO training work — no Arrow/Python stage anywhere (the corpus
    encode happened at build); (3) a params mismatch fails loudly
    instead of mis-scoring against incompatible codes."""
    from llamadb_spark.operators import similarity
    from llamadb_spark.operators.ann_index import (
        build_ivfpq_index,
        ivfpq_query_index,
    )
    from llamadb_spark.queries.pipeline import KNN_K, KNN_QUERY_IDS, _emb

    emb = _emb(spark, sf_dir)
    kw = dict(n_cells=16, n_subspaces=16, n_codes=32, iters=1)
    idx = str(tmp_path / "ivfpq_idx")
    params = build_ivfpq_index(emb, idx, **kw)
    assert params["dim"] % params["n_subspaces"] == 0

    q = ivfpq_query_index(
        spark, idx, emb, KNN_QUERY_IDS, k=KNN_K, shortlist=200, nprobe=8,
        expect={"n_cells": 16, "residual": False},
    )
    got = sorted(map(tuple, q.collect()))
    want = sorted(
        map(
            tuple,
            similarity.ivfpq_topk(
                emb, KNN_QUERY_IDS, k=KNN_K, shortlist=200, nprobe=8, **kw
            ).collect(),
        )
    )
    assert got == want and got  # identical results, train-free path

    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, f"query-time plan must not {node}"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="different\\s+params"):
        ivfpq_query_index(
            spark, idx, emb, KNN_QUERY_IDS, expect={"n_cells": 64}
        )


def test_ivfpq_index_incremental_append(spark, sf_dir, tmp_path):
    """append_ivfpq_index: new vectors are encoded against the FROZEN
    model and appended — (1) stored codes after build(A)+append(B)
    are exactly encode(A∪B) under the frozen model (one shared
    encode pass, byte-identical however rows arrived); (2) the model
    files are untouched by the append; (3) a planted near-duplicate
    appended later is actually FOUND as its query's top neighbor."""
    import pyspark.sql.functions as F

    from llamadb_spark.operators.ann_index import (
        _encode_codes,
        append_ivfpq_index,
        build_ivfpq_index,
        ivfpq_query_index,
        load_ivfpq_model,
    )
    from llamadb_spark.queries.pipeline import KNN_K, _emb

    emb = _emb(spark, sf_dir)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    # half B, plus a planted near-dup of vec 0 at a fresh id
    dup = emb.filter(F.col("vec_id") == 0).select(
        F.lit(990_001).alias("vec_id"), "embedding", "label"
    )
    half_b = emb.filter(F.col("vec_id") % 2 == 1).unionByName(dup)
    full = half_a.unionByName(half_b)

    idx = str(tmp_path / "idx")
    kw = dict(n_cells=16, n_subspaces=16, n_codes=32, iters=1)
    built = build_ivfpq_index(half_a, idx, **kw)
    vdir = f"{idx}/{built['version']}"
    model_before = sorted(
        map(tuple, spark.read.parquet(f"{vdir}/model").collect())
    )
    params = append_ivfpq_index(half_b, idx)
    assert params["n_cells"] == 16
    # append lands in the SAME version; model untouched
    assert params["version"] == built["version"]
    model_after = sorted(
        map(tuple, spark.read.parquet(f"{vdir}/model").collect())
    )
    assert model_before == model_after

    # stored codes == one-pass encode of the union with the frozen model
    _p, cents, books = load_ivfpq_model(spark, idx)
    want = sorted(
        (r.neighbor_id, r.cell, tuple(r.codes))
        for r in _encode_codes(full, cents, books, False).collect()
    )
    got = sorted(
        (r.neighbor_id, r.cell, tuple(r.codes))
        for r in spark.read.parquet(f"{vdir}/codes").collect()
    )
    assert got == want

    # the appended near-dup is findable: top neighbor of vec 0
    res = ivfpq_query_index(
        spark, idx, full, [0], k=KNN_K, shortlist=200, nprobe=8
    ).collect()
    top = min(res, key=lambda r: r.rank)
    assert top.neighbor_id == 990_001 and top.cos > 0.99


def test_ivfpq_rebuild_writes_new_immutable_version(spark, sf_dir, tmp_path):
    """ADVICE r09: an in-place rebuild could pair an old model with
    new codes for a concurrent reader — undetectable when the
    retrain used identical params. The versioned store makes that
    impossible by construction: (1) a rebuild with the SAME params
    lands in a fresh version dir and flips the manifest; (2) the
    first build's artifacts are untouched — a reader that resolved
    v1 keeps a complete, consistent v1; (3) no driver-local files
    exist anywhere under the index path (every artifact, manifest
    and params included, goes through the storage layer and would
    land on the DFS in a shared-storage deployment)."""
    import os

    from llamadb_spark.operators.ann_index import (
        build_ivfpq_index,
        current_index_version,
        ivfpq_query_index,
    )
    from llamadb_spark.queries.pipeline import KNN_K, KNN_QUERY_IDS, _emb

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "idx")
    kw = dict(n_cells=16, n_subspaces=16, n_codes=32, iters=1)
    p1 = build_ivfpq_index(emb, idx, **kw)
    v1_model = sorted(
        map(tuple, spark.read.parquet(f"{idx}/{p1['version']}/model").collect())
    )
    v1_res = sorted(
        map(
            tuple,
            ivfpq_query_index(
                spark, idx, emb, KNN_QUERY_IDS, k=KNN_K,
                shortlist=200, nprobe=8,
            ).collect(),
        )
    )

    p2 = build_ivfpq_index(emb, idx, **kw)  # same params, new version
    assert p2["version"] != p1["version"]
    assert current_index_version(spark, idx) == p2["version"]
    # v1 left whole and unchanged
    assert sorted(
        map(tuple, spark.read.parquet(f"{idx}/{p1['version']}/model").collect())
    ) == v1_model
    # deterministic trainers: the new version answers identically
    v2_res = sorted(
        map(
            tuple,
            ivfpq_query_index(
                spark, idx, emb, KNN_QUERY_IDS, k=KNN_K,
                shortlist=200, nprobe=8,
            ).collect(),
        )
    )
    assert v2_res == v1_res

    # storage-layer-only discipline: no bare files at the index root
    # (manifest and params are datasets, not driver-local json)
    root_files = [
        f for f in os.listdir(idx)
        if os.path.isfile(os.path.join(idx, f))
    ]
    assert root_files == []
