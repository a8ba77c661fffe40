"""Deduplication operators (SURVEY §2 #29-32).

Scale design: no operator ever forms the O(n²) pair space. Candidate
pairs come from inverted indexes (shared shingle / LSH band bucket /
simhash prefix bucket), so shuffle volume is bounded by bucket
occupancy, and AQE's skew-join splitting handles hot buckets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit
from pyspark.sql.types import StructField, StructType

from llamadb_spark.functions.blocking import drop_hot_keys
from llamadb_spark.functions.text import (
    distinct_tokens,
    word_shingle_arrays,
)
from llamadb_spark.session import stage


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: one shuffle on sha256 of
    the normalized text; keeps the lowest id as the canonical doc.

    Output: (text_sha, keep_id, n_copies).
    """
    norm = F.regexp_replace(F.trim(F.lower(col(text_col))), r"\s+", " ")
    return (
        docs.select(F.sha2(norm, 256).alias("text_sha"), col(id_col))
        .groupBy("text_sha")
        .agg(F.min(id_col).alias("keep_id"), F.count(lit(1)).alias("n_copies"))
    )


def _shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, n_sh, sh, _pos): one row per distinct word n-gram of each
    doc, hashed, with its position in the doc's shingle array (0 on
    exactly one row of every doc that has a shingle). Not staged."""
    arr = word_shingle_arrays(docs, id_col, text_col, n)
    return arr.select(
        col(id_col),
        F.size("shingles").alias("n_sh"),
        F.posexplode("shingles").alias("_pos", "shingle"),
    ).select(col(id_col), "n_sh", F.xxhash64("shingle").alias("sh"), "_pos")


def hashed_shingle_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> tuple[DataFrame, int]:
    """The staged inverted shingle index every shingle-based dedup
    path consumes: (id, n_sh, sh) with sh = xxhash64(word n-gram),
    returned with the number of docs it indexes.

    Shingle strings are ~20 bytes; 64-bit-hashing them before any
    self-join shrinks shuffle payloads (collision odds over n
    distinct shingles ≈ n²/2⁶⁵ — irrelevant below ~10⁸ shingles).
    Set sizes come free from the pre-explode shingle array
    (size(shingles)) — zero extra shuffle, no window, no join-back,
    and the array is built exactly ONCE per doc. Safe to explode
    the materialized column because the session excludes
    InferFiltersFromGenerate (see session.py — that rule would
    re-inline the array construction below this projection).

    The doc count is a second metric of the staging job
    (``count_if(_pos = 0)``: docs with at least one shingle). Every
    doc posts each distinct shingle hash once, so no hash can occur in
    more rows than that; it is the entity bound the hot-shingle guard
    uses to skip itself (functions/blocking.drop_hot_keys).

    Returned LOCALCHECKPOINTED: the hot-key occupancy aggregate, the
    self-join sides, and (for callers like d03/d18) the MinHash
    signature aggregation all reference it — without an explicit
    materialization the CPU-heavy shingle pipeline runs per reference
    (measured 2.7× on sf0.1). At cluster scale this is a staged
    intermediate table, the standard shape for production dedup
    pipelines; the index is (id, n, hash) ≈ 20 bytes/shingle, far
    smaller than the text it summarizes. Keys needing BOTH the exact
    pair machinery and a sketch (d03, d18) build the index once and
    pass it to both — one barrier, one shingle pass.
    """
    idx, seen = stage(
        _shingle_hashes(docs, id_col, text_col, n),
        F.expr("count_if(_pos = 0) AS docs"),
        names=[id_col, "n_sh", "sh"],
    )
    return idx, seen["docs"]


def jaccard_ngram_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    stop_shingle_df: int | None = 10_000,
    index: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """EXACT n-gram (word 3-gram) Jaccard near-dup pairs via an
    inverted shingle index — the scalable exact algorithm:

      1. distinct shingles per doc (narrow explode)
      2. self-join on `shingle` → co-occurrence counts = |A∩B|
      3. |A∪B| = |A| + |B| - |A∩B|; filter jaccard ≥ threshold

    Never materializes non-candidate pairs: docs sharing zero
    shingles never meet in the join.

    Hot-shingle guard: shingles occurring in more than
    ``stop_shingle_df`` docs (boilerplate headers/footers) are
    dropped from the index before the self-join — each contributes
    O(df²) candidate pairs while carrying no dedup signal
    (functions/blocking.py). Set sizes (n_sh) stay FULL-set, so when
    no shingle exceeds the cap the result is bit-exact Jaccard; when
    the cap fires, intersections lose only stop-shingles (jaccard is
    under-, never over-estimated). ``None`` disables. ``index`` is a
    shared ``hashed_shingle_index`` result.
    """
    sh, n_docs = index or hashed_shingle_index(docs, id_col, text_col)
    sh = drop_hot_keys(sh, ["sh"], stop_shingle_df, entities=n_docs)

    # Never broadcast a side of this join: both sides are the full
    # exploded shingle index (corpus-sized, not dim-sized) — at scale
    # a broadcast here is fatal, and locally the stats mislead Spark
    # into choosing one. shuffle_hash on both sides instead; the two
    # shuffles canonicalize identically, so the second one becomes a
    # ReusedExchange and the shingle pipeline (regex split + 3-gram
    # transform, the CPU-heavy part) runs ONCE, not twice.
    a = sh.select(col(id_col).alias("a_id"), "sh", col("n_sh").alias("n_a")).hint(
        "shuffle_hash"
    )
    b = sh.select(col(id_col).alias("b_id"), "sh", col("n_sh").alias("n_b")).hint(
        "shuffle_hash"
    )
    inter = (
        a.join(b, "sh")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(lit(1)).alias("n_inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6
            ),
        )
        .filter(col("jaccard") >= threshold)
        .select("a_id", "b_id", "n_inter", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    stop_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Excerpt detection: pairs where the SMALLER document's shingle
    set is mostly contained in the larger's — containment
    C = |A∩B| / min(|A|,|B|). Jaccard divides by the UNION, so a
    short quote inside a long document scores near zero on jaccard
    while containment flags it (Broder's resemblance vs containment
    distinction, the basis of quote/excerpt dedup in web corpora).

    Identical inverted-index plan to jaccard_ngram_pairs (shared
    shingles only, hot-shingle guard, never O(n²)); only the final
    arithmetic differs. inner = the smaller-set doc (ties broken by
    id), so (inner, outer) orientation is deterministic.

    Output: (inner_id, outer_id, n_inter, containment).
    """
    sh, n_docs = hashed_shingle_index(docs, id_col, text_col)
    sh = drop_hot_keys(sh, ["sh"], stop_shingle_df, entities=n_docs)
    a = sh.select(col(id_col).alias("a_id"), "sh", col("n_sh").alias("n_a")).hint(
        "shuffle_hash"
    )
    b = sh.select(col(id_col).alias("b_id"), "sh", col("n_sh").alias("n_b")).hint(
        "shuffle_hash"
    )
    inter = (
        a.join(b, "sh")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(lit(1)).alias("n_inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    smaller_is_a = (col("n_a") < col("n_b")) | (
        (col("n_a") == col("n_b")) & (col("a_id") < col("b_id"))
    )
    return (
        inter.withColumn(
            "containment",
            F.round(col("n_inter") / F.least(col("n_a"), col("n_b")), 6),
        )
        .filter(col("containment") >= threshold)
        .select(
            F.when(smaller_is_a, col("a_id")).otherwise(col("b_id")).alias("inner_id"),
            F.when(smaller_is_a, col("b_id")).otherwise(col("a_id")).alias("outer_id"),
            "n_inter",
            "containment",
        )
    )


def incremental_jaccard_matches(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    stop_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Incremental ingest dedup: for every document in an incoming
    BATCH, find its best jaccard match in the EXISTING corpus — the
    daily-ingest twin of jaccard_ngram_pairs' full self-join. The
    join is strictly one-sided (batch shingles probe the corpus
    index): batch×batch and corpus×corpus pairs are never generated,
    so a day's ingest costs O(batch · avg-postings), independent of
    corpus-pair count. At production scale the corpus index
    (id, n_sh, shingle-hash) is a persisted table appended per batch,
    not recomputed — the staging here mirrors that shape.

    Hot-shingle guard on the CORPUS index (df > stop_shingle_df
    dropped, set sizes stay full — d02's exact-jaccard contract);
    best match per batch doc picked by (jaccard desc, corpus id asc)
    so retries and partition layouts can't flip it.

    Output: (id, match_id, n_inter, jaccard) — one row per batch doc
    with a match ≥ threshold.
    """
    from pyspark.sql.window import Window

    old, n_docs = hashed_shingle_index(corpus, id_col, text_col)
    old = drop_hot_keys(old, ["sh"], stop_shingle_df, entities=n_docs)
    new = _shingle_hashes(new_docs, id_col, text_col)
    # Corpus-index side is corpus-sized — shuffle join, never a
    # forced broadcast (the batch side may be small enough that AQE
    # broadcasts IT, which is the right direction).
    inter = (
        new.select(col(id_col).alias("a_id"), "sh", col("n_sh").alias("n_a"))
        .join(
            old.select(col(id_col).alias("b_id"), "sh", col("n_sh").alias("n_b")),
            "sh",
        )
        .groupBy("a_id", "b_id")
        .agg(
            F.count(lit(1)).alias("n_inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6
            ),
        )
        .filter(col("jaccard") >= threshold)
    )
    w = Window.partitionBy("a_id").orderBy(col("jaccard").desc(), col("b_id"))
    return (
        inter.withColumn("rk", F.row_number().over(w))
        .filter(col("rk") == 1)
        .select(
            col("a_id").alias(id_col),
            col("b_id").alias("match_id"),
            "n_inter",
            "jaccard",
        )
    )


def shared_ngram_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    stop_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Exact long-run dedup: doc pairs sharing at least ``min_shared``
    distinct word n-grams for a LONG n (default 8). With n this long a
    single shared run is near-certain copying — the inverted-index
    approximation of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": exact
    substring matching; a distributed suffix array is the exact form,
    the long-shingle index is the join-friendly one).

    Same scale shape as jaccard_ngram_pairs: index → hot-key guard →
    self-join; no thresholding math, just shared-run counts.

    Output: (a_id, b_id, n_shared).
    """
    idx, n_docs = hashed_shingle_index(docs, id_col, text_col, n=n)
    idx = drop_hot_keys(idx, ["sh"], stop_shingle_df, entities=n_docs)
    a = idx.select(col(id_col).alias("a_id"), "sh").hint("shuffle_hash")
    b = idx.select(col(id_col).alias("b_id"), "sh").hint("shuffle_hash")
    return (
        a.join(b, "sh")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(lit(1)).alias("n_shared"))
        .filter(col("n_shared") >= min_shared)
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    index: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """MinHash signatures over word 3-gram shingles.

    k hash functions are xxhash64(xxhash64(shingle), salt_i) (JVM
    xxhash64 — deterministic across runs/executors): shingles are
    first collapsed to the same 64-bit hashes the exact-Jaccard
    inverted index uses (hashed_shingle_index), then salt-rehashed
    per signature position — an equally-uniform family that lets the
    signature aggregation run straight off a SHARED staged index
    (pass ``index``) instead of re-running the shingle pipeline.
    Signature built with ONE aggregation producing an array column —
    not k separate aggs.

    Output: (id, sig array<bigint> length k).
    """
    sh, _ = index or hashed_shingle_index(docs, id_col, text_col)
    # Both k-wide expression lists are SQL strings parsed server-side
    # (one round trip each) instead of 2k python Column constructions
    # — identical parsed expressions, ~0.5 s less driver time per
    # invocation (see simhash_fingerprints note).
    hashes = F.expr(
        "array(" + ", ".join(f"xxhash64(sh, {i})" for i in range(num_hashes)) + ")"
    )
    mins = F.expr(
        "array("
        + ", ".join(f"min(element_at(hs, {i + 1}))" for i in range(num_hashes))
        + ") AS sig"
    )
    return sh.select(col(id_col), hashes.alias("hs")).groupBy(id_col).agg(mins)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
    index: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidates, verified with estimated
    Jaccard from full-signature agreement.

      sig → split into `bands` bands of r=k/bands rows
      band bucket key = xxhash64(band values) → self-join per band
      → distinct candidate pairs → est_jaccard = matching sig
      positions / k, filter ≥ threshold.

    Scale: the self-join is on (band_id, bucket) — the classic LSH
    bucket join. Bucket occupancy is the only quadratic term; band
    width r tunes the candidate rate (P[bucket match] = s^r for
    similarity s). Buckets larger than ``max_bucket_size`` (near-
    identical boilerplate cliques) are dropped before the join
    (functions/blocking.py) — a clique that large is better handled
    by exact_dedup upstream, and other bands still generate each
    genuine pair with probability 1-(1-s^r)^(bands-1).

    Output: (a_id, b_id, est_jaccard) — rows-only check (xxhash64
    has no DuckDB twin).
    """
    r = num_hashes // bands
    # The signature table is referenced FOUR times below (two banded
    # self-join sides + two verification join-backs); without an
    # explicit materialization Spark re-runs the whole shingle+minhash
    # pipeline (the CPU-dominant stage) for each reference. At cluster
    # scale this would be a checkpoint/staged table; locally,
    # localCheckpoint. Size is tiny relative to the corpus: k×8 bytes
    # per doc vs the full text.
    sig, seen = stage(
        minhash_signatures(docs, id_col, text_col, num_hashes, index=index)
    )
    # Band rows carry ONLY (id, band_id, bucket) — 8 banded copies of
    # the 256-byte signature through the shuffle would dominate the
    # join payload; sigs rejoin onto the (much smaller) candidate set
    # below, where AQE turns both sig joins into broadcasts.
    band_arr = ", ".join(
        "struct({b} AS band_id, xxhash64({els}) AS bucket)".format(
            b=bidx,
            els=", ".join(
                f"element_at(sig, {bidx * r + j + 1})" for j in range(r)
            ),
        )
        for bidx in range(bands)
    )
    # SQL-string construction for the bands×r element_at tree — one
    # parse round trip instead of ~bands·r python Column calls (see
    # simhash_fingerprints note); parsed expressions identical.
    banded = sig.select(
        col(id_col),
        F.explode(F.expr(f"array({band_arr})")).alias("band"),
    ).select(col(id_col), "band.band_id", "band.bucket")
    # one (band_id, bucket) per signature per band: no bucket holds
    # more rows than there are signatures
    banded = drop_hot_keys(
        banded, ["band_id", "bucket"], max_bucket_size, entities=seen["n"]
    )

    # Corpus-sized on both sides — never broadcastable (see d02 note);
    # shuffle_hash also lets the second shuffle reuse the first.
    a = banded.select(col(id_col).alias("a_id"), "band_id", "bucket").hint(
        "shuffle_hash"
    )
    b = banded.select(col(id_col).alias("b_id"), "band_id", "bucket").hint(
        "shuffle_hash"
    )
    pairs = (
        a.join(b, ["band_id", "bucket"])
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    cand = pairs.join(
        sig.select(col(id_col).alias("a_id"), col("sig").alias("a_sig")), "a_id"
    ).join(sig.select(col(id_col).alias("b_id"), col("sig").alias("b_sig")), "b_id")
    est = F.round(
        F.size(
            F.filter(
                F.zip_with("a_sig", "b_sig", lambda x, y: x == y), lambda m: m
            )
        )
        / lit(float(num_hashes)),
        6,
    )
    return (
        cand.withColumn("est_jaccard", est)
        .filter(col("est_jaccard") >= threshold)
        .select("a_id", "b_id", "est_jaccard")
    )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over distinct whitespace tokens.

    Bit b of the fingerprint = majority vote of bit b across
    xxhash64(token) for all tokens, computed as 64 SUM aggregates of
    ±1 bit votes — all JVM-side, one shuffle. The sums get map-side
    partial aggregation, so the shuffle carries 64 longs per doc
    instead of every token hash (the earlier collect_list form had
    no map-side combine and moved the full hash list — measured 1.8×
    slower at sf0.1 and strictly worse at 100 TB shuffle volume).

    Output: (id, simhash bigint, bucket = top-16-bit prefix) —
    bucket gives the hamming-candidate blocking key.
    """
    toks = docs.select(
        col(id_col), F.explode(distinct_tokens(col(text_col))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # The 64 vote sums and the 64-way bit-OR are built as SQL strings
    # parsed server-side in one round trip: assembling them from
    # python Column operators costs ~350 py4j calls (~1.6 s of DRIVER
    # time per invocation at any scale — measured r10); the parsed
    # expressions are identical (same CASE WHEN / shiftright & 1
    # semantics), so plans and results are unchanged.
    votes = toks.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
                f" THEN 1 ELSE -1 END) AS _v{b}"
            )
            for b in range(64)
        ]
    )
    or_chain = " | ".join(
        f"(CASE WHEN _v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b})"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(64)
    )
    return votes.select(
        col(id_col),
        F.expr(or_chain).alias("simhash"),
    ).withColumn("bucket", F.shiftrightunsigned("simhash", 48))


#: Edge count at or below which connected components finish on the
#: driver: the staged edge list is collected once and closed with a
#: union-find, instead of running one checkpointed Spark job per star
#: round. Each distributed round costs fixed scheduling time
#: (0.5-0.7 s on 4 cores) however small the graph, while the local
#: finish is linear in the edges. Measured on random graphs (n edges
#: over 2n ids), 4 cores, warm, staging job included, local vs star
#: rounds: 10k edges 0.52-0.59 s vs 6.4-6.5 s; 100k edges 1.3-2.1 s
#: vs 8.6-11.6 s. The local side grows with the collected rows, so the
#: constant bounds driver memory and collect time rather than marking
#: a crossover. Above it the star rounds run; they remain the
#: corpus-scale path.
_LOCAL_MAX_EDGES = 100_000

#: Star rounds a distributed connected-components call may run. A
#: chain of n nodes settles in about log2(n) rounds plus the round
#: that confirms the fixed point, so 30 leaves room for chains of
#: about 2^28 nodes. Reaching it without a fixed point raises rather
#: than return a partial labelling.
_MAX_ROUNDS = 30


def _stage_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame | None]:
    """Materialize a ``(u, v)`` edge list, counting its rows in the
    same job (``stage``). Returns ``(staged, components)``:
    when the count is at most ``_LOCAL_MAX_EDGES`` the components are
    finished on the driver (the one collect, bounded by the gate) and
    returned as ``(node, cluster_id = component min)``; otherwise
    ``components`` is None and the caller runs the star rounds on
    ``staged``.

    The local result has the distributed result's schema: the id type
    is the union type of ``u`` and ``v``, and both columns are
    nullable when either input column is.
    """
    staged, observed = stage(edges)
    if observed["n"] > _LOCAL_MAX_EDGES:
        return staged, None
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # linking every root under the smaller one keeps each root its
    # component's minimum id
    for u, v in staged.collect():
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    id_type = staged.unionAll(staged.select("v", "u")).schema[0].dataType
    nullable = any(f.nullable for f in staged.schema.fields)
    schema = StructType(
        [
            StructField("node", id_type, nullable),
            StructField("cluster_id", id_type, nullable),
        ]
    )
    # pandas → Arrow keeps the frame a local relation; a list of
    # tuples would add a Python-deserialising job to every consumer
    pdf = pd.DataFrame({"node": nodes, "cluster_id": [find(n) for n in nodes]})
    return staged, staged.sparkSession.createDataFrame(pdf, schema)


def connected_components(
    pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id"
) -> DataFrame:
    """Connected components over an undirected edge list — the
    transitive-closure step that turns near-dup PAIRS into dedup
    CLUSTERS (every doc in a component shares one cluster_id: the
    component's minimum id).

    The pair list is staged once with its row count observed in the
    same job. Up to ``_LOCAL_MAX_EDGES`` edges — every pair graph at
    bench and test scale — the components finish on the driver
    (``_stage_edges``) and no further job runs.

    Above the gate, ``_star_rounds`` contracts the ``(u > v)`` edge
    list with alternating large-star/small-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14).
    Path distance shrinks roughly geometrically, so a chain of n nodes
    settles in ~log2(n) rounds whatever the graph's diameter; each
    round is one checkpoint job and the driver reads one fingerprint
    per round.

    Output: (node, cluster_id) for every node appearing in pairs; a
    node seen only in a self-loop is its own singleton component.
    Node nullability and id type follow the input.
    """
    edges, local = _stage_edges(
        pairs.select(col(a_col).alias("u"), col(b_col).alias("v"))
    )
    if local is not None:
        return local
    stars = _star_rounds(
        edges.filter(col("u") != col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    # every star leaf carries its center (the component min); centers
    # and self-loop-only nodes label themselves
    nodes = edges.select(col("u").alias("node")).union(edges.select("v")).distinct()
    return nodes.join(
        stars.select(col("u").alias("node"), col("v").alias("center")), "node", "left"
    ).select("node", F.coalesce("center", "node").alias("cluster_id"))


def _star_rounds(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star rounds over a deduplicated
    ``(u > v)`` edge list until the edge set reaches a fixed point.
    The input and each round pay one checkpoint job. Returns the star
    edges leaf→center; raises after ``_MAX_ROUNDS`` rounds without a
    fixed point rather than return a partial labelling."""

    def one_round(e: DataFrame) -> DataFrame:
        """One large-star + small-star alternation, declaratively —
        no materialization, no driver round-trip."""
        # Large-star: every node u connects its strictly-larger
        # neighbors to m = min(N(u) ∪ {u}). Needs the symmetric view.
        sym = e.unionAll(e.select(col("v").alias("u"), col("u").alias("v")))
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(col("u"), col("mv")).alias("m"))
        )
        # No distinct between the phases: duplicate (u,v) rows are
        # harmless through the min-aggregates and small-star's
        # single distinct dedupes the round's output.
        large = (
            sym.join(lmins, "u")
            .filter(col("v") > col("u"))
            .select(col("v").alias("u"), col("m").alias("v"))
        )
        # Small-star: on the u>v directed edges, every node u links
        # its smaller neighbors (and itself) to their collective min.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        return (
            large.join(smins, "u")
            .select(
                F.when(col("v") == col("m"), col("u")).otherwise(col("v")).alias("u"),
                col("m").alias("v"),
            )
            .filter(col("u") != col("v"))
            .distinct()
        )

    # One alternation per materialization: fusing two rounds into one
    # unmaterialized DAG was tried and MEASURED SLOWER (the first
    # round's output is referenced 3-4x by the second round's
    # symmetric-view union and joins, so the whole sub-DAG
    # re-evaluates per reference — d08 4.6 → 8.8 s at sf0.1); the
    # per-round stage is what makes each round's work run once. The
    # round's lineage stays 2 joins deep. The input is staged the same
    # way: round 1 reads it 4 times.
    # Fixed-point check: an order-insensitive edge-set fingerprint
    # (count + xor of hashes; xor cannot overflow, unlike a sum under
    # ANSI arithmetic) — OBSERVED inside the checkpoint job (r10: the
    # former post-hoc agg+collect was a separate job per round — pure
    # driver latency at any scale). ``_h`` is read only by the metric.
    prev_fp = None
    for _ in range(_MAX_ROUNDS + 1):
        edges, fp = stage(
            edges.select("u", "v", F.xxhash64("u", "v").alias("_h")),
            F.expr("bit_xor(_h) AS h"),
            names=["u", "v"],
        )
        if fp == prev_fp:
            return edges
        prev_fp = fp
        edges = one_round(edges)
    raise RuntimeError(
        f"connected components: no fixed point after {_MAX_ROUNDS} star rounds"
    )
