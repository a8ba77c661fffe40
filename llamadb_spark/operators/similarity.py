"""Similarity search over embedding columns (SURVEY §2 #33-35).

Embeddings are array<float>; all math is cast to double before
accumulation (see functions/vector.py) so results match a
double-precision oracle.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, col, lit

from llamadb_spark.functions.blocking import drop_hot_keys
from llamadb_spark.functions.matrix import vector_matrix
from llamadb_spark.functions.vector import as_double, cosine, cosine_pre, norm2
from llamadb_spark.session import stage


def embed_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    num_blocks: int = 8,
    strategy: str = "blocked",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """All vector pairs with cosine ≥ threshold (exact).

    Default strategy "blocked": block-pair partitioned all-pairs.
    Each vector gets a deterministic hash block b ∈ [0, B) and is
    replicated to the B block pairs {(min(b,o), max(b,o)) : o ∈ [0, B)},
    hash-partitioned by block pair. One mapInArrow call per partition
    reads its Arrow batches once into one L2-normalised float64 matrix
    and runs a cross-block (or intra-block, when x == y) cosine matmul
    per block pair it holds. Every pair lands in exactly one block
    pair, so the result is exact. AQE decides how many block pairs
    share a task (at bench scale it coalesces all B(B+1)/2 into one);
    the task pays one Arrow round trip for all of them.
    No driver-side corpus materialization anywhere: the shuffle moves
    N·B vector copies and a block pair holds ≤ 2N/B vectors — pick B
    so a partition fits executor memory (B ~ N·d·16/exec_mem). Exact
    all-pairs is inherently O(N²) compute; at 100 TB the approximate
    LSH path (lsh_ann_pairs) is the default pair generator and this
    operator is its exact-verify twin on bounded candidate sets.

    Strategy "broadcast" is an opt-in fast path for sub-memory
    corpora: collect ≤ max_broadcast_rows ids+vectors (hard error
    beyond the cap — never a silent corpus-sized driver collect),
    broadcast the normalized matrix, and stream the corpus once
    through mapInPandas doing a block matmul per batch.

    Output: (a_id, b_id, cos) with cos rounded to 6dp, a_id < b_id.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    if strategy == "broadcast":
        rows = (
            emb.select(col(id_col).alias("_id"), col(vec_col).alias("_v"))
            .limit(max_broadcast_rows + 1)
            .collect()
        )
        if len(rows) > max_broadcast_rows:
            raise ValueError(
                f"broadcast strategy capped at {max_broadcast_rows} rows; "
                "use strategy='blocked' for larger corpora"
            )
        c_ids = np.array([r._id for r in rows], dtype=np.int64)
        c_mat = vector_matrix([r._v for r in rows], unit=True)
        bc = emb.sparkSession.sparkContext.broadcast((c_ids, c_mat))

        def _block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids, mat = bc.value
            for batch in batches:
                b_ids = batch["_id"].to_numpy()
                b_mat = vector_matrix(batch["_v"], unit=True)
                sims = np.round(b_mat @ mat.T, 6)
                keep = (sims >= threshold) & (b_ids[:, None] < ids[None, :])
                ai, cj = np.nonzero(keep)
                yield pd.DataFrame(
                    {"a_id": b_ids[ai], "b_id": ids[cj], "cos": sims[ai, cj]}
                )

        return emb.select(
            col(id_col).alias("_id"), col(vec_col).alias("_v")
        ).mapInPandas(_block, "a_id long, b_id long, cos double")

    if strategy != "blocked":
        raise ValueError(f"unknown strategy {strategy!r}")

    copies = (
        emb.select(
            col(id_col).alias("_id"),
            col(vec_col).alias("_v"),
            F.pmod(F.xxhash64(col(id_col)), lit(num_blocks)).cast("int").alias("_blk"),
        )
        .select(
            "_id",
            "_v",
            "_blk",
            F.explode(F.sequence(lit(0), lit(num_blocks - 1))).alias("_o"),
        )
        .select(
            "_id",
            "_v",
            "_blk",
            F.least(col("_blk"), col("_o")).alias("_gx"),
            F.greatest(col("_blk"), col("_o")).alias("_gy"),
        )
    )

    def _pairs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        part = pa.Table.from_batches(batches)
        ids = part["_id"].to_numpy().astype(np.int64, copy=False)
        blk = part["_blk"].to_numpy()
        mat = vector_matrix(part["_v"], unit=True)
        key = part["_gx"].to_numpy() * num_blocks + part["_gy"].to_numpy()
        order = np.argsort(key, kind="stable")
        out = []
        for rows in np.split(order, np.flatnonzero(np.diff(key[order])) + 1):
            x, y = divmod(int(key[rows[0]]), num_blocks)
            left = blk[rows] == x
            ra, rb = (rows, rows) if x == y else (rows[left], rows[~left])
            ia, ib, ma = ids[ra], ids[rb], mat[ra]
            sims = np.round(ma @ (ma if x == y else mat[rb]).T, 6)
            keep = sims >= threshold
            if x == y:
                keep &= ia[:, None] < ib[None, :]
            ai, bj = np.nonzero(keep)
            a, b = np.minimum(ia[ai], ib[bj]), np.maximum(ia[ai], ib[bj])
            out.append((a, b, sims[ai, bj]))
        a, b, c = (np.concatenate(cols) for cols in zip(*out))
        if len(a):
            yield pa.RecordBatch.from_arrays(
                [pa.array(a), pa.array(b), pa.array(c)],
                names=["a_id", "b_id", "cos"],
            )

    return copies.repartition("_gx", "_gy").mapInArrow(
        _pairs, "a_id long, b_id long, cos double"
    )


def knn_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for a set of query vectors.

    Queries are a tiny relation → broadcast; the corpus streams once
    with no shuffle until the final per-query top-k (window over
    query_id — k·|queries| rows max). This is the 100 TB-sane
    brute-force: one corpus pass, no pairwise shuffle.

    Output: (query_id, neighbor_id, cos, rank).
    """
    from pyspark.sql.window import Window

    queries = emb.filter(col(id_col).isin(query_ids)).select(
        col(id_col).alias("query_id"), as_double(col(vec_col)).alias("q_v")
    )
    corpus = emb.select(
        col(id_col).alias("neighbor_id"), as_double(col(vec_col)).alias("c_v")
    )
    scored = (
        corpus.crossJoin(broadcast(queries))
        .filter(col("neighbor_id") != col("query_id"))
        .withColumn("cos", F.round(cosine(col("q_v"), col("c_v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(col("cos").desc(), col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_train_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
):
    """Train IVF coarse centroids (returns a K×d numpy array of
    L2-normalized centroids).

    Seeds: the K corpus vectors with smallest xxhash64(id) — a
    deterministic uniform sample needing no RNG state (any executor
    or rerun picks the same seeds). Refinement: `iters` Lloyd steps,
    each ONE distributed corpus pass — assignment in Arrow-batched
    mapInPandas (BLAS matmul against the broadcast K×d matrix),
    per-cell means via posexplode + groupBy (K·d tiny rows collected).
    At 100 TB you'd train on a hash-sample (`WHERE xxhash64(id) % m
    = 0`) — same plan shape, smaller pass.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v"))

    seeds = (
        v.withColumn("_h", F.xxhash64(col("_id")))
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    # a zero-norm seed/vector normalizes to the zero vector (lands in
    # cell 0) instead of poisoning the matrix with NaNs
    cents = vector_matrix([r._v for r in seeds], unit=True)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = bc.value
            for batch in batches:
                m_n = vector_matrix(batch["_v"], unit=True)
                cell = np.argmax(m_n @ c.T, axis=1)
                yield pd.DataFrame({"cell": cell, "_v": batch["_v"]})

        assigned = v.mapInPandas(_assign, "cell int, _v array<double>")
        means = (
            assigned.select("cell", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their old centroid
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        for cidx, dims in by_cell.items():
            vec = np.array([dims[p] for p in sorted(dims)])
            n = np.linalg.norm(vec)
            if n > 0:
                new[cidx] = vec / n
        cents = new
    return cents


def ivf_cluster_sizes(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Cluster-balance diagnostic over the trained IVF partition:
    assign every vector to its nearest centroid (one Arrow-batched
    matmul pass against the broadcast K×d matrix) and report per-cell
    occupancy — the signal for topic imbalance in a corpus (one cell
    holding 60% of the data means both a skewed IVF probe profile and
    an over-represented content cluster worth downsampling).

    Scale: training collects K·d floats only (ivf_train_centroids);
    assignment emits one int per vector; the groupBy shuffles ≤K
    partial rows per task. Output: (cell, n_vecs, share) — rows-only
    (k-means has no DuckDB twin; mass/range invariants in tests).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    cents = ivf_train_centroids(
        emb, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters
    )
    bc = spark.sparkContext.broadcast(cents)
    v = emb.select(as_double(col(vec_col)).alias("_v"))

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for batch in batches:
            m_n = vector_matrix(batch["_v"], unit=True)
            yield pd.DataFrame({"cell": np.argmax(m_n @ c.T, axis=1)})

    assigned = v.mapInPandas(_assign, "cell int")
    sizes = assigned.groupBy("cell").agg(F.count(lit(1)).alias("n_vecs"))
    total = sizes.agg(F.sum("n_vecs").alias("_total"))
    return (
        sizes.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vecs",
            F.round(col("n_vecs") / col("_total"), 6).alias("share"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF index: assign
    the corpus to K coarse cells, probe only the `nprobe` cells
    nearest each query — the pairwise work drops to ~nprobe/K of
    brute force.

    Scale shape: corpus assignment is one Arrow-batched pass (no
    shuffle); the probe step is a hash equi-join on `cell` between
    the corpus and the tiny exploded query relation (broadcast), so
    at 100 TB the only shuffle is the final per-query top-k window
    over ≤ |queries|·(corpus/K)·nprobe scored rows.

    Output: (query_id, neighbor_id, cos, rank) like knn_bruteforce.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.window import Window

    spark = emb.sparkSession
    cents = ivf_train_centroids(
        emb, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters
    )
    bc = spark.sparkContext.broadcast(cents)

    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v"))

    def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for batch in batches:
            m_n = vector_matrix(batch["_v"], unit=True)
            cell = np.argmax(m_n @ c.T, axis=1)
            yield pd.DataFrame(
                {"neighbor_id": batch["_id"], "cell": cell, "c_v": batch["_v"]}
            )

    corpus = v.mapInPandas(
        _assign, "neighbor_id long, cell int, c_v array<double>"
    )

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for batch in batches:
            m_n = vector_matrix(batch["_v"], unit=True)
            order = np.argsort(-(m_n @ c.T), axis=1)[:, :nprobe]
            n = len(batch)
            yield pd.DataFrame(
                {
                    "query_id": batch["_id"].to_numpy().repeat(nprobe),
                    "cell": order.ravel(),
                    "q_v": [batch["_v"].iloc[i] for i in range(n) for _ in range(nprobe)],
                }
            )

    probes = (
        v.filter(col("_id").isin(query_ids))
        .mapInPandas(_probe, "query_id long, cell int, q_v array<double>")
    )

    scored = (
        corpus.join(broadcast(probes), "cell")
        .filter(col("neighbor_id") != col("query_id"))
        .withColumn("cos", F.round(cosine(col("q_v"), col("c_v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(col("cos").desc(), col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


#: Fixed seed for the hyperplane matrix. numpy's legacy RandomState
#: (MT19937 + standard_normal) is frozen by numpy's backward-compat
#: guarantee, so every executor regenerates bit-identical planes from
#: the seed alone — no plane table is shipped or stored.
LSH_PLANE_SEED = 0x10AD5


def _hyperplane_bucket_udf(num_planes: int, num_tables: int):
    """Arrow-batched bucket ids for all tables in one pass.

    The hyperplane projection is a dense (batch × d) @ (d × T·P)
    matmul — exactly the kernel BLAS exists for. The earlier pure-SQL
    formulation (aggregate/zip_with per plane) evaluated T·P·d
    interpreted lambda steps per row: Spark's higher-order functions
    never enter whole-stage codegen, which made bucketing ~10× the
    cost of the candidate join it feeds. One vectorized UDF call per
    Arrow batch replaces all of it; planes are Gaussian (the textbook
    SimHash family: P[sign flip] = θ/π exactly), regenerated
    deterministically per executor from LSH_PLANE_SEED.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def buckets(vecs: pd.Series) -> pd.Series:
        M = vector_matrix(vecs)
        d = M.shape[1]
        planes = np.random.RandomState(LSH_PLANE_SEED).standard_normal(
            (num_tables * num_planes, d)
        )
        signs = M @ planes.T > 0  # (n, T·P)
        weights = 1 << np.arange(num_planes)
        b = (
            signs.reshape(-1, num_tables, num_planes) * weights
        ).sum(axis=2).astype("int32")  # (n, T)
        return pd.Series(list(b))

    return buckets


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    exact: bool = False,
    num_planes: int | str = 6,
    num_tables: int = 40,
) -> DataFrame:
    """The library's semantic near-dup pair generator — the entry
    point a pipeline should call. DEFAULT is the LSH-bucketed path
    (hyperplane buckets with occupancy caps → exact cosine verify):
    candidate volume is bucket-bounded, never O(N²), so it survives
    100 TB (VERDICT r05: the blocked all-pairs stage was the one
    weak-at-100x component; it is now opt-in only).

    ``exact=True`` is the small-corpus ESCAPE HATCH: blocked
    all-pairs cosine (embed_neardup_pairs) — exhaustive recall, O(N²)
    compute — for verification runs and corpora that comfortably fit
    a single machine's compute budget. Both paths emit the same
    (a_id, b_id, cos) contract, cos ≥ threshold, a_id < b_id.
    """
    if exact:
        return embed_neardup_pairs(
            emb, id_col=id_col, vec_col=vec_col, threshold=threshold
        )
    return lsh_ann_pairs(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        num_planes=num_planes,
        num_tables=num_tables,
    )


def auto_num_planes(n: int, target_bucket_rows: int) -> int:
    """THE occupancy-targeting plane-count formula (#215):
    planes = ceil(log2(n / target_bucket_rows)). Single source of
    truth — ``lsh_ann_pairs(num_planes="auto")`` calls this, and so
    does bench.py's d12 scaling fit when it records the plane count
    as auto-sizing evidence (ADVICE r07: recording a re-derived
    formula would silently drift if this one changed)."""
    import math

    return max(1, math.ceil(math.log2(max(2, n / target_bucket_rows))))


def lsh_ann_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | str = 6,
    num_tables: int = 8,
    threshold: float = 0.4,
    max_bucket_size: int | None = 10_000,
    target_bucket_rows: int = 1024,
) -> DataFrame:
    """Approximate near-neighbor pairs via random-hyperplane LSH.

    num_tables independent sign-bit bucketings (planes salted by
    table id); candidates = pairs sharing a bucket in ANY table;
    verified with exact cosine ≥ threshold. The bucket join replaces
    the quadratic pair space — the 100 TB path. Buckets larger than
    ``max_bucket_size`` are dropped before the join (the O(size²)
    guard of functions/blocking.py); the other num_tables-1 tables
    still cover pairs from a dropped bucket.

    ``num_planes="auto"`` sizes the bucket space to the CORPUS:
    planes = ceil(log2(n / target_bucket_rows)), so expected bucket
    occupancy — and with it the per-table candidate volume
    n²/2^planes — stays constant as n grows, instead of a fixed
    plane count silently going quadratic (or, past the occupancy
    cap, dropping every bucket). The flip side is per-table recall
    p^planes shrinking: when auto raises planes, raise num_tables
    too (recall ≈ 1-(1-p^planes)^tables). Costs one count() job.

    Output: (a_id, b_id, cos) — rows-only check (bucketing depends
    on the seeded plane matrix, no DuckDB twin; exact-recall parity
    vs embed_neardup_pairs is asserted in tests instead).
    """
    if num_planes == "auto":
        num_planes = auto_num_planes(emb.count(), target_bucket_rows)
    elif not isinstance(num_planes, int):
        raise ValueError(f"num_planes must be int or 'auto', got {num_planes!r}")
    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("v"))

    # All num_tables bucket ids come from ONE Arrow-batched matmul
    # over ONE scan (array-of-buckets + posexplode), not num_tables
    # separate scans unioned. The exploded rows carry only
    # (_id, tbl, bucket): vectors must NOT ride through the bucket
    # self-join (num_tables copies of every vector through the
    # shuffle); they rejoin onto the candidate set below, which is
    # bucket-bounded and tiny.
    bucket_udf = _hyperplane_bucket_udf(num_planes, num_tables)
    banded = v.select(
        "_id", F.posexplode(bucket_udf(col("v"))).alias("tbl", "bucket")
    )
    if max_bucket_size is not None:
        # The occupancy guard adds a reference to `banded` (the
        # matmul bucketing plus a corpus scan) — stage the tiny
        # (id, tbl, bucket) table so the guard and both join sides
        # read it rather than recompute it. Every bucketed vector
        # posts exactly one (tbl, bucket) per table, so the staged
        # row count over num_tables bounds every bucket's occupancy.
        banded, seen = stage(banded)
        banded = drop_hot_keys(
            banded,
            ["tbl", "bucket"],
            max_bucket_size,
            entities=seen["n"] // num_tables,
        )

    # Corpus-sized both sides — shuffle join, never broadcast (d02 note)
    a = banded.select(col("_id").alias("a_id"), "tbl", "bucket").hint("shuffle_hash")
    b = banded.select(col("_id").alias("b_id"), "tbl", "bucket").hint("shuffle_hash")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    # Vector join-backs: cand is duplicate-candidate-sized → AQE
    # broadcasts it against the corpus vector table (one pass each).
    # Squared norms are computed once per corpus vector PER JOIN SIDE
    # (vn is not staged, so its projection runs twice — once under
    # each join-back) and carried as scalars (cosine_pre —
    # bit-identical, removes the per-PAIR norm folds, which are
    # interpreted HOFs; the per-pair folds were the measured cost).
    vn = v.withColumn("n2", norm2(col("v")))
    scored = (
        cand.join(
            vn.select(
                col("_id").alias("a_id"),
                col("v").alias("a_v"),
                col("n2").alias("a_n2"),
            ),
            "a_id",
        )
        .join(
            vn.select(
                col("_id").alias("b_id"),
                col("v").alias("b_v"),
                col("n2").alias("b_n2"),
            ),
            "b_id",
        )
        .withColumn(
            "cos",
            F.round(
                cosine_pre(col("a_v"), col("b_v"), col("a_n2"), col("b_n2")), 6
            ),
        )
    )
    return scored.filter(col("cos") >= threshold).select("a_id", "b_id", "cos")


def embed_dim_stats(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension health check over an embedding column: mean,
    population variance, min, max for each coordinate — the first
    thing to look at when a similarity index misbehaves (dead dims,
    scale blowouts, truncation artifacts).

    posexplode → one groupBy(dim) shuffle of (dim, value) pairs; at
    100 TB the map-side partial aggregation reduces each partition to
    d rows before the exchange, so the shuffle is O(partitions × d),
    not O(rows × d).

    Output: (dim, mean, var, lo, hi), one row per coordinate.
    """
    exploded = emb.select(
        F.posexplode(as_double(col(vec_col))).alias("dim", "x")
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean"),
            F.round(F.var_pop("x"), 6).alias("var"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
        .withColumn("dim", col("dim").cast("long"))
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA dimensionality reduction of the embedding column via Spark
    ML's distributed PCA (covariance accumulated across executors,
    eigendecomposition of the d×d Gramian on the driver — d² scalars,
    never the corpus). The standard pre-step before ANN indexing when
    d is large: projecting 768→64 dims cuts index memory and distance
    compute ~12× at small recall cost.

    Sign convention: eigenvector signs are implementation-defined, so
    downstream comparisons must be sign-invariant (tests check
    variance/orthogonality, not raw coordinates). Rows-only — no SQL
    oracle can express the eigendecomposition.

    Output: (id, pc array<double> length k).
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = emb.select(
        col(id_col), array_to_vector(as_double(col(vec_col))).alias("_v")
    )
    model = PCA(k=k, inputCol="_v", outputCol="_pc").fit(vecs)
    return model.transform(vecs).select(
        col(id_col), vector_to_array(col("_pc")).alias("pc")
    )


def mmr_rerank(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 100,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedy top-k that
    trades relevance against redundancy — score(c) = λ·rel(c) −
    (1−λ)·max_{s∈selected} sim(c, s). The standard diversity pass
    after ANN retrieval (dedup-aware few-shot selection, diverse
    eval sampling).

    Two-stage scale shape: a DISTRIBUTED coarse top-``pool`` by
    cosine relevance (one corpus pass, TakeOrdered — this is the part
    that touches 100 TB), then the inherently-sequential greedy MMR
    loop on the pool, which is bounded (≤ pool vectors) and runs on
    the driver by design — the same boundary IVF uses for its K×d
    centroid state. Deterministic: ties break on id.

    Output: (mmr_rank, id, relevance) — k rows.
    """
    import numpy as np

    scored = (
        emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v"))
        .withColumn(
            "_rel",
            cosine(col("_v"), F.array(*[lit(float(x)) for x in query_vec])),
        )
        .orderBy(col("_rel").desc(), col("_id"))
        .limit(pool)
    )
    rows = scored.collect()  # bounded: ≤ pool rows by construction
    ids = np.array([r._id for r in rows], dtype=np.int64)
    rel = np.array([r._rel for r in rows], dtype=np.float64)
    mat = vector_matrix([r._v for r in rows], unit=True)

    selected: list[int] = []
    remaining = list(range(len(ids)))
    while remaining and len(selected) < k:
        if not selected:
            best = remaining[0]  # pool is relevance-sorted
        else:
            sims = mat[remaining] @ mat[selected].T
            mmr = lam * rel[remaining] - (1 - lam) * sims.max(axis=1)
            # deterministic argmax: highest score, lowest id on ties
            order = sorted(
                range(len(remaining)),
                key=lambda i: (-mmr[i], ids[remaining[i]]),
            )
            best = remaining[order[0]]
        selected.append(best)
        remaining.remove(best)

    out = [
        (r + 1, int(ids[i]), float(round(rel[i], 6)))
        for r, i in enumerate(selected)
    ]
    return emb.sparkSession.createDataFrame(
        out, f"mmr_rank long, {id_col} long, relevance double"
    )


def rerank_knn(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    coarse_mult: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: int8-quantized coarse scoring → exact cosine
    re-rank of the survivors — the production retrieval pattern
    (score 4×-compressed vectors for the cheap first cut, then spend
    full precision on k·coarse_mult candidates only). At 100 TB the
    coarse pass reads a quarter of the bytes of s01's full-precision
    scan and the exact join-back touches only the candidate set.

    Quantization is the s04 contract (symmetric int8, floor(x/s+0.5))
    so coarse dot products are EXACT integers scaled by two floats —
    engine-portable, which keeps the whole operator oracle-checkable
    (no sketch, no RNG). Both stages break ties by neighbor id.

    Output: (query_id, neighbor_id, cos, rank), rank ≤ k.
    """
    from pyspark.sql.window import Window

    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("v"))
    maxabs = F.array_max(F.transform(col("v"), F.abs))
    quant = v.select(
        "_id",
        "v",
        F.when(maxabs > 0, maxabs / 127.0).otherwise(lit(1.0)).alias("scale"),
    ).select(
        "_id",
        "v",
        "scale",
        F.transform(
            col("v"), lambda x: F.floor(x / col("scale") + 0.5).cast("int")
        ).alias("q"),
    )
    queries = quant.filter(col("_id").isin(query_ids)).select(
        col("_id").alias("query_id"),
        col("v").alias("q_v"),
        col("scale").alias("q_scale"),
        col("q").alias("q_q"),
    )
    # query set is caller-bounded → broadcast is safe by contract
    coarse = (
        quant.crossJoin(broadcast(queries))
        .filter(col("_id") != col("query_id"))
        .withColumn(
            "approx",
            col("scale")
            * col("q_scale")
            * F.aggregate(
                F.zip_with(col("q"), col("q_q"), lambda a, b: (a * b).cast("long")),
                lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(col("approx").desc(), col("_id"))
    cand = coarse.withColumn("_crk", F.row_number().over(wc)).filter(
        col("_crk") <= k * coarse_mult
    )
    exact = cand.withColumn("cos", F.round(cosine(col("v"), col("q_v")), 6))
    we = Window.partitionBy("query_id").orderBy(col("cos").desc(), col("_id"))
    return (
        exact.withColumn("rank", F.row_number().over(we).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", col("_id").alias("neighbor_id"), "cos", "rank")
    )


def quantize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization per vector — the standard 4×
    compression before shipping embeddings to an ANN index: scale =
    max|x| / 127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].
    floor(x+0.5) (not round()) keeps half-way cases identical across
    engines. All higher-order built-ins (transform/array_max) — per
    row in codegen, no shuffle, no UDF.

    Output: (id, n_dims, scale, q_csv) — q_csv is the comma-joined
    int8 vector (exact integers, so value-comparable anywhere).
    """
    # scale materializes in its own projection: inlining it into the
    # transform lambda would re-evaluate array_max per ELEMENT (O(d²)
    # per row — measured ~2× on 128-dim vectors).
    v = as_double(col(vec_col))
    maxabs = F.array_max(F.transform(v, F.abs))
    staged = emb.select(
        col(id_col),
        v.alias("_v"),
        F.when(maxabs > 0, maxabs / 127.0).otherwise(lit(1.0)).alias("scale"),
    )
    q = F.transform(col("_v"), lambda x: F.floor(x / col("scale") + 0.5).cast("int"))
    return staged.select(
        col(id_col),
        F.size("_v").cast("long").alias("n_dims"),
        col("scale"),
        F.array_join(q, ",").alias("q_csv"),
    )


def label_centroids(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean embedding (class prototypes — the seed step of
    IVF training and prototype classifiers), in long form: one row
    per (label, dimension).

    posexplode → groupBy(label, dim) avg: the shuffle key (label,
    dim) has cardinality |labels|·|dims| regardless of corpus size,
    and partial aggregation collapses each partition's contribution
    map-side — the scan dominates at 100 TB, not the shuffle.

    Output: (label, dim, centroid).
    """
    exploded = emb.select(
        col(label_col).alias("label"),
        F.posexplode(as_double(col(vec_col))).alias("dim", "x"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("centroid"))
        .withColumn("dim", col("dim").cast("long"))
    )


def centroid_classify(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification eval: assign every
    vector to its most-cosine-similar label centroid and report
    per-true-label accuracy — the standard "are these embeddings
    linearly separable by class" pipeline check.

    Construction is fully declarative: per-(label, dim) centroid
    means (one map-side-combined pass to a k×d table), then the
    vectors exploded by dimension join the broadcast centroid dims —
    an n×d×k narrow-row stream that partially aggregates back to
    (vec, candidate) dot products before any shuffle. Argmax is a
    per-vec window over k rows, deterministic via (rounded cos desc,
    label). No UDFs, no driver collect.

    Output: (label, n_vecs, n_correct, accuracy).
    """
    v = emb.select(
        col(id_col).alias("_id"),
        col(label_col).alias("_true"),
        F.posexplode(col(vec_col).cast("array<double>")).alias("dim", "x"),
    )
    dims = (
        emb.select(
            col(label_col).alias("_cand"),
            F.posexplode(col(vec_col).cast("array<double>")).alias("dim", "m"),
        )
        .groupBy("_cand", "dim")
        .agg(F.avg("m").alias("m"))
    )
    scored = (
        v.join(F.broadcast(dims), "dim")
        .groupBy("_id", "_true", "_cand")
        .agg(
            F.sum(col("x") * col("m")).alias("dot"),
            F.sqrt(F.sum(col("x") * col("x"))).alias("nv"),
        )
    )
    cnorm = dims.groupBy("_cand").agg(F.sqrt(F.sum(col("m") * col("m"))).alias("nc"))
    cos = scored.join(F.broadcast(cnorm), "_cand").select(
        "_id",
        "_true",
        "_cand",
        F.round(col("dot") / (col("nv") * col("nc")), 6).alias("cos"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("_id").orderBy(col("cos").desc(), col("_cand"))
    best = cos.withColumn("rk", F.row_number().over(w)).filter(col("rk") == 1)
    return (
        best.groupBy(col("_true").alias("label"))
        .agg(
            F.count(lit(1)).alias("n_vecs"),
            F.sum(F.when(col("_cand") == col("_true"), 1).otherwise(0)).alias(
                "n_correct"
            ),
        )
        .select(
            "label",
            "n_vecs",
            "n_correct",
            F.round(col("n_correct") / col("n_vecs"), 6).alias("accuracy"),
        )
    )


def pq_train_codebooks(
    emb: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train product-quantization codebooks (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search" — public):
    split each L2-NORMALIZED vector into ``n_subspaces`` contiguous
    subvectors and run a small k-means (``n_codes`` centroids,
    ``iters`` Lloyd steps) independently per subspace.

    Returns a numpy array of shape (n_subspaces, n_codes, d_sub).

    Distribution shape mirrors ivf_train_centroids: deterministic
    seeds (the n_codes corpus vectors with smallest xxhash64(id) seed
    EVERY subspace — no RNG state), then each Lloyd step is ONE
    Arrow-batched corpus pass assigning all subspaces at once, with
    per-(subspace, code) means reduced via groupBy on tiny keys. At
    100 TB you train on a hash-sample; same plan, smaller pass.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v"))
    seeds = (
        v.withColumn("_h", F.xxhash64(col("_id")))
        .orderBy("_h")
        .limit(n_codes)
        .collect()
    )
    mat = vector_matrix([r._v for r in seeds], unit=True)
    d = mat.shape[1]
    d_sub = d // n_subspaces
    assert d_sub * n_subspaces == d, "dim must divide n_subspaces"
    # (m, k, d_sub): subspace j seeded from the same seed vectors
    books = np.stack(
        [mat[:, j * d_sub : (j + 1) * d_sub] for j in range(n_subspaces)]
    )

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)

        def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            b = bc.value
            m, k, ds = b.shape
            for batch in batches:
                x = vector_matrix(batch["_v"], unit=True)
                out = {"sub": [], "code": [], "vec": []}
                for j in range(m):
                    xs = x[:, j * ds : (j + 1) * ds]
                    # ||xs - c||^2 = ||xs||^2 - 2 xs·c + ||c||^2
                    d2 = (
                        -2.0 * (xs @ b[j].T)
                        + (b[j] ** 2).sum(axis=1)[None, :]
                    )
                    code = np.argmin(d2, axis=1)
                    out["sub"].extend([j] * len(xs))
                    out["code"].extend(code.tolist())
                    out["vec"].extend(xs.tolist())
                yield pd.DataFrame(out)

        assigned = v.mapInPandas(
            _assign, "sub int, code int, vec array<double>"
        )
        means = (
            assigned.groupBy("sub", "code")
            .agg(
                F.array(
                    *[
                        F.avg(F.element_at("vec", i + 1))
                        for i in range(d_sub)
                    ]
                ).alias("c")
            )
            .collect()
        )
        for r in means:
            books[r["sub"], r["code"]] = np.asarray(r["c"])
    return books


def pq_encode(
    emb: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int> length m): each L2-normalized vector's
    per-subspace nearest-codebook indices — the 100 TB payoff: m
    small ints per vector instead of d floats (here 4 bytes-ish vs
    d·8), computed in one Arrow-batched pass, no shuffle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(books)
    v = emb.select(col(id_col).alias("vec_id"), as_double(col(vec_col)).alias("_v"))

    def _enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = bc.value
        m, k, ds = b.shape
        for batch in batches:
            x = vector_matrix(batch["_v"], unit=True)
            codes = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * ds : (j + 1) * ds]
                d2 = -2.0 * (xs @ b[j].T) + (b[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {"vec_id": batch["vec_id"], "codes": codes.tolist()}
            )

    return v.mapInPandas(_enc, "vec_id long, codes array<bigint>")


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_subspaces: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k neighbors via PQ asymmetric distance (ADC):
    corpus vectors live as m-byte codes; each query precomputes its
    (m × k) subspace distance table, and a candidate's approximate
    squared L2 distance is m table lookups + a sum. On L2-normalized
    vectors, ascending L2 ≡ descending cosine, so the output ranking
    is cosine-comparable with the rest of the ANN family.

    Scale: the encoded corpus (m ints/vector) streams once against
    the broadcast query tables; the only shuffle is the per-query
    top-k window (≤ k·|queries| rows). Codebook training and
    encoding are one-time index builds, like IVF's.

    Output: (query_id, neighbor_id, approx_d2, rank).
    """
    from pyspark.sql.window import Window

    books = pq_train_codebooks(
        emb, n_subspaces=n_subspaces, n_codes=n_codes, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(emb, books, id_col=id_col, vec_col=vec_col)

    import numpy as np

    spark = emb.sparkSession
    q = (
        emb.filter(col(id_col).isin(query_ids))
        .select(col(id_col).alias("query_id"), as_double(col(vec_col)).alias("_v"))
        .collect()
    )
    # per-query subspace lookup tables (|queries| × m × k floats —
    # driver-bounded by the query list, broadcast like IVF's seeds)
    m, kk, ds = books.shape
    rows = []
    for r in q:
        x = np.asarray(r._v, dtype=np.float64)
        x = x / max(np.linalg.norm(x), 1e-12)
        for j in range(m):
            xs = x[j * ds : (j + 1) * ds]
            d2 = ((books[j] - xs[None, :]) ** 2).sum(axis=1)
            rows.append((int(r.query_id), j, [float(t) for t in d2]))
    tables = spark.createDataFrame(
        rows, "query_id long, sub int, tbl array<double>"
    )
    # ADC: explode corpus codes once, join the (tiny) tables, sum the
    # m lookups per (query, neighbor)
    exploded = codes.select(
        col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        exploded.join(broadcast(tables), "sub")
        .filter(col("neighbor_id") != col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.element_at("tbl", col("code").cast("int") + 1).alias("part"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("part"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        col("approx_d2").asc(), col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_d2", "rank")
    )


def _pq_train_residual_codebooks(
    emb: DataFrame,
    cents,
    n_subspaces: int,
    n_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
):
    """Train PQ codebooks on IVF RESIDUALS r = x_norm − centroid[cell]
    (the IVFADC form of Jégou et al. 2011 §V): residual magnitudes are
    much smaller than raw coordinates, so the same m·k* code budget
    quantizes them with lower error. Same distribution shape as
    pq_train_codebooks — deterministic xxhash64 seeds, Arrow-batched
    Lloyd passes, tiny (sub, code) mean reductions — with the cell
    assignment fused into each pass. Residuals are NOT re-normalized
    (they are offsets, not directions)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    bc_c = spark.sparkContext.broadcast(cents)
    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v"))

    def _resid(xn: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
        return xn - c[np.argmax(xn @ c.T, axis=1)]

    seeds = (
        v.withColumn("_h", F.xxhash64(col("_id")))
        .orderBy("_h")
        .limit(n_codes)
        .collect()
    )
    res = _resid(vector_matrix([r._v for r in seeds], unit=True), cents)
    d = res.shape[1]
    d_sub = d // n_subspaces
    assert d_sub * n_subspaces == d, "dim must divide n_subspaces"
    books = np.stack(
        [res[:, j * d_sub : (j + 1) * d_sub] for j in range(n_subspaces)]
    )

    for _ in range(iters):
        bc_b = spark.sparkContext.broadcast(books)

        def _assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            b = bc_b.value
            c = bc_c.value
            m, _k, ds = b.shape
            for batch in batches:
                r_ = _resid(vector_matrix(batch["_v"], unit=True), c)
                out = {"sub": [], "code": [], "vec": []}
                for j in range(m):
                    xs = r_[:, j * ds : (j + 1) * ds]
                    d2 = (
                        -2.0 * (xs @ b[j].T)
                        + (b[j] ** 2).sum(axis=1)[None, :]
                    )
                    code = np.argmin(d2, axis=1)
                    out["sub"].extend([j] * len(xs))
                    out["code"].extend(code.tolist())
                    out["vec"].extend(xs.tolist())
                yield pd.DataFrame(out)

        assigned = v.mapInPandas(
            _assign, "sub int, code int, vec array<double>"
        )
        means = (
            assigned.groupBy("sub", "code")
            .agg(
                F.array(
                    *[
                        F.avg(F.element_at("vec", i + 1))
                        for i in range(d_sub)
                    ]
                ).alias("c")
            )
            .collect()
        )
        for r in means:
            books[r["sub"], r["code"]] = np.asarray(r["c"])
    return books


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 50,
    n_cells: int = 16,
    nprobe: int = 4,
    n_subspaces: int = 16,
    n_codes: int = 32,
    iters: int = 2,
    residual: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN — the production billion-vector shape (Jégou et
    al. 2011 §V: inverted file + product quantization), composing the
    two halves this repo already proves separately: IVF coarse cells
    (s03) bound the candidate set to ~nprobe/K of the corpus, and
    PQ-ADC (s16) scores ONLY those candidates from their m-int codes,
    followed by an exact cosine rerank of the shortlist.

    Why this is the 100 TB default over either half alone: vs s16
    (full-corpus ADC) the ADC stream shrinks by nprobe/K; vs s03
    (IVF + exact scoring) candidates are scored from m small ints
    instead of d floats — at 100 TB of vectors that is the difference
    between scanning a ~6 TB code index and the full vector table.

    ``residual=False`` (default): corpus-global codebooks quantize
    the normalized vectors directly (plain PQ within probed cells).
    ``residual=True`` is IVFADC proper (Jégou §V): codebooks quantize
    r = x_norm − centroid[cell], and the ADC tables become per
    (query, probed cell) — still driver-bounded,
    |queries|·nprobe·m·k* floats. On corpora with real cluster
    structure the residual form buys a finer quantization per code
    budget (an equal-recall shortlist shrink). MEASURED BOTH WAYS
    (tools/residual_eval.py):
    - near-isotropic corpora (this repo's synthetic embeddings,
      sf0.01/sf0.1, nprobe=8, iters∈{1,2}): residual recall ≤ plain
      at shortlist 25/50 (e.g. 0.375 vs 0.625 mean at sf0.1/sl=25),
      converging only by sl=100-200 — 16 centroids of an isotropic
      cloud carry almost no mass, so r ≈ x and per-cell table
      fragmentation just adds quantization noise.
    - CLUSTERED corpora (VERDICT r08 #3: mixture-of-16-Gaussians,
      n=20k, d=64, nprobe=8, same code budget): residual WINS, and
      the win grows with cluster tightness — recall@5 at sl=25:
      0.600 vs 0.525 (σ=0.15), 0.675 vs 0.375 (σ=0.10); at sl=50:
      0.775 vs 0.725 (σ=0.15), 0.800 vs 0.550 (σ=0.10) — exactly
      Jégou §V's prediction, now measured where intended.
    Plain stays the default for THIS repo's near-isotropic test
    corpus; flip residual=True when the corpus has real cluster
    structure (most production embedding corpora do).

    Plan shape: index build = one Arrow-batched pass emitting (id,
    cell, codes) — no shuffle; query side = driver-bounded collects
    (|queries| probe rows + |queries|·m ADC tables, broadcast); probe
    = broadcast hash join on cell; ADC = posexplode(m) + broadcast
    table join + per-(query, neighbor) sum; the only corpus-keyed
    shuffles are that sum and the two top-k windows (candidate- and
    shortlist-bounded).

    Output: (query_id, neighbor_id, cos, rank) — same contract as
    knn_bruteforce / ivf_topk / pq_rerank_topk.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    cents = ivf_train_centroids(
        emb, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=iters
    )
    if residual:
        books = _pq_train_residual_codebooks(
            emb, cents, n_subspaces, n_codes, iters, id_col, vec_col
        )
    else:
        books = pq_train_codebooks(
            emb, n_subspaces=n_subspaces, n_codes=n_codes, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    bc_c = spark.sparkContext.broadcast(cents)
    bc_b = spark.sparkContext.broadcast(books)
    v = emb.select(col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v"))

    # the stored index: ONE Arrow pass -> (id, cell, m codes)
    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc_c.value
        b = bc_b.value
        m_, _kk, ds = b.shape
        for batch in batches:
            xn = vector_matrix(batch["_v"], unit=True)
            cell = np.argmax(xn @ c.T, axis=1)
            tgt = (xn - c[cell]) if residual else xn
            codes = np.empty((len(xn), m_), dtype=np.int64)
            for j in range(m_):
                xs = tgt[:, j * ds : (j + 1) * ds]
                d2 = -2.0 * (xs @ b[j].T) + (b[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": batch["_id"],
                    "cell": cell,
                    "codes": codes.tolist(),
                }
            )

    index = v.mapInPandas(_index, "neighbor_id long, cell int, codes array<bigint>")
    return _ivfpq_query(
        index, cents, books, emb, query_ids,
        k=k, shortlist=shortlist, nprobe=nprobe, residual=residual,
        id_col=id_col, vec_col=vec_col,
    )


def _ivfpq_query(
    index: DataFrame,
    cents,
    books,
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    shortlist: int,
    nprobe: int,
    residual: bool,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The query half of IVF-PQ, shared by :func:`ivfpq_topk` (train
    + query in one plan, the driver-attested bench shape) and
    operators/ann_index.py's persisted train-once/query-many path.
    ``index`` is the (neighbor_id, cell, codes) relation; ``cents``/
    ``books`` are the trained numpy model.

    Query side: nprobe cells + ADC lookup tables, driver-bounded by
    the query list (the ivf_topk/pq_topk boundary). Plain PQ keys
    tables (query, sub); residual keys them (query, CELL, sub):
    the lookup target is q_norm − centroid[cell] per probed cell.
    """
    import numpy as np
    from pyspark.sql.window import Window

    spark = emb.sparkSession
    v = emb.select(
        col(id_col).alias("_id"), as_double(col(vec_col)).alias("_v")
    )
    qrows = v.filter(col("_id").isin(query_ids)).collect()
    m_, _kk, ds = books.shape
    probe_rows, table_rows = [], []
    for r in qrows:
        x = np.asarray(r._v, dtype=np.float64)
        xn = x / max(np.linalg.norm(x), 1e-12)
        probed = np.argsort(-(cents @ xn))[:nprobe]
        for cell in probed:
            probe_rows.append((int(r._id), int(cell)))
        if residual:
            for cell in probed:
                tgt = xn - cents[cell]
                for j in range(m_):
                    xs = tgt[j * ds : (j + 1) * ds]
                    d2 = ((books[j] - xs[None, :]) ** 2).sum(axis=1)
                    table_rows.append(
                        (int(r._id), int(cell), j,
                         [float(t) for t in d2])
                    )
        else:
            for j in range(m_):
                xs = xn[j * ds : (j + 1) * ds]
                d2 = ((books[j] - xs[None, :]) ** 2).sum(axis=1)
                table_rows.append((int(r._id), j, [float(t) for t in d2]))
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")
    if residual:
        tables = spark.createDataFrame(
            table_rows, "query_id long, cell int, sub int, tbl array<double>"
        )
        table_keys = ["query_id", "cell", "sub"]
    else:
        tables = spark.createDataFrame(
            table_rows, "query_id long, sub int, tbl array<double>"
        )
        table_keys = ["query_id", "sub"]

    # probe (candidates = codes in each query's nprobe cells), then
    # ADC over candidates only
    cand = index.join(broadcast(probes), "cell").filter(
        col("neighbor_id") != col("query_id")
    )
    scored = (
        cand.select(
            "query_id",
            "cell",
            "neighbor_id",
            F.posexplode("codes").alias("sub", "code"),
        )
        .join(broadcast(tables), table_keys)
        .select(
            "query_id",
            "neighbor_id",
            F.element_at("tbl", col("code").cast("int") + 1).alias("part"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("part"), 6).alias("approx_d2"))
    )
    w_sl = Window.partitionBy("query_id").orderBy(
        col("approx_d2").asc(), col("neighbor_id")
    )
    sl = (
        scored.withColumn("rank", F.row_number().over(w_sl))
        .filter(col("rank") <= shortlist)
        .select("query_id", "neighbor_id")
    )

    # exact rerank of the shortlist only
    queries = emb.filter(col(id_col).isin(query_ids)).select(
        col(id_col).alias("query_id"), as_double(col(vec_col)).alias("q_v")
    )
    corpus = emb.select(
        col(id_col).alias("neighbor_id"), as_double(col(vec_col)).alias("c_v")
    )
    rer = (
        sl.join(corpus, "neighbor_id")
        .join(broadcast(queries), "query_id")
        .withColumn("cos", F.round(cosine(col("q_v"), col("c_v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        col("cos").desc(), col("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def pq_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 50,
    n_subspaces: int = 16,
    n_codes: int = 32,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ composition: ADC over the encoded corpus
    produces a ``shortlist`` of candidates per query, then EXACT
    cosine reranks only those (shortlist · |queries| vectors touched,
    not the corpus). Recall@k equals the shortlist's containment of
    the true top-k — measured 0.97 mean / 0.80 min at sf0.01 with
    (m=16, k*=32, R=50).

    Output: (query_id, neighbor_id, cos, rank) — same contract as
    knn_bruteforce/ivf_topk.
    """
    from pyspark.sql.window import Window

    cand = pq_topk(
        emb, query_ids, k=shortlist,
        n_subspaces=n_subspaces, n_codes=n_codes, iters=iters,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    queries = emb.filter(col(id_col).isin(query_ids)).select(
        col(id_col).alias("query_id"), as_double(col(vec_col)).alias("q_v")
    )
    corpus = emb.select(
        col(id_col).alias("neighbor_id"), as_double(col(vec_col)).alias("c_v")
    )
    scored = (
        cand.join(corpus, "neighbor_id")
        .join(broadcast(queries), "query_id")
        .withColumn("cos", F.round(cosine(col("q_v"), col("c_v")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        col("cos").desc(), col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )
