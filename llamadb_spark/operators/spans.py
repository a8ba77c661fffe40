"""Exact substring dedup at SPAN granularity (SURVEY §2 #267-268).

The missing granularity between d01 (whole-doc exact dedup) and
d09/d14 (doc-PAIR shared-run / containment detection): a real
training-data pipeline cuts the overlapping BYTE RANGES themselves —
the suffix-array dedup of Lee et al. 2022, "Deduplicating Training
Data Makes Language Models Better" (public), which removes every
substring of length ≥ L that appears more than once in the corpus.

Distributed form (seed-and-chain, exact for cross-doc runs ≥ L):

1. SEEDS — explode every document into its length-L character grams,
   one per position (the distributed stand-in for suffix-array
   construction: O(total chars) rows instead of a global sorted
   suffix array, which cannot be built cluster-wide without a global
   sort).
2. MATCH — self-equi-join the seeds on the gram. Shuffle is hash-
   partitioned on gram content, so matching positions co-locate
   without any global order; per-gram occupancy is capped
   (``max_gram_occ``) exactly like every other inverted-index
   operator in this repo — a degenerate gram (runs of spaces, boiler-
   plate) would otherwise contribute occ² join rows.
3. CHAIN — a shared run of length R ≥ L between docs (a, b) at
   offsets (i, j) produces exactly R-L+1 seed matches on the one
   DIAGONAL d = i - j, at consecutive a-positions. Grouping
   consecutive positions per (a, b, d) via the classic islands trick
   (pos - row_number, windowed per pair-diagonal — never a global
   window) recovers every MAXIMAL shared run and its exact extent:
   a_start = min(a_pos), run_len = n_seeds + L - 1.
4. APPLY — merge each doc's span intervals (standard running-max
   island merge), slice the text into the KEPT gaps, and reassemble
   with an ordered JVM-side concat. Policy: the lower doc_id keeps
   its text, spans are removed from the HIGHER id of each pair (the
   deterministic analogue of Lee et al.'s "remove all but one
   occurrence").

Every step is declarative DataFrame ops — no Python in the hot path;
the windows are all partitioned by (pair, diagonal) or doc_id, so the
plan scales with the cluster. At 100 TB the seed explosion is the
dominant shuffle; the join key is the 8-byte ``xxhash64`` of each
L-gram (computed inside the scan projection), NOT the raw L-char
text — at L=40 that cuts the join-key payload ~5× (the streaming
twin, ``streaming/ingest_span_dedup.py``, established the pattern).
Chaining and extent recovery use only positions, never gram text, so
nothing downstream changes. Collision bound: a false seed match
needs two distinct grams with equal xxhash64; with P corpus
positions the expected count is ≤ P²/2⁶⁴ (≈ 5·10⁻⁷ at P = 3·10⁶,
vanishing for any per-partition P a sane layout produces), and a
lone false seed would surface as a spurious min_len-length span.
The remaining shuffle term is ≈ positions × ~24 bytes; production
additionally strides the seeds on one side (stride s ≤ min_len
keeps detection of runs ≥ min_len + s - 1, see
``substring_span_pairs``) — a documented knob, not the default,
because the test contract here is EXACT parity with a DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit
from pyspark.sql.window import Window

from llamadb_spark.session import stage


def position_grams(
    docs: DataFrame,
    min_len: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, pos, gram_h): xxhash64 of every 1-based position's
    length-L char gram. Documents shorter than L contribute nothing.
    The raw gram text never leaves the projection — only the 8-byte
    hash is shuffled (collision bound in the module docstring)."""
    n = F.length(col(text_col)) - lit(min_len - 1)
    positions = F.when(n >= 1, F.sequence(lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return docs.select(
        col(id_col).alias("doc_id"),
        F.explode(positions).alias("pos"),
        col(text_col),
    ).select(
        "doc_id",
        col("pos").cast("long").alias("pos"),
        F.xxhash64(
            F.expr(f"substring({text_col}, pos, {min_len})")
        ).alias("gram_h"),
    )


def substring_span_pairs(
    docs: DataFrame,
    min_len: int = 40,
    max_gram_occ: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    stride: int = 1,
) -> DataFrame:
    """All maximal cross-doc shared substring runs of length ≥
    ``min_len``: (a_id, b_id, a_start, b_start, run_len) with
    a_id < b_id, starts 1-based. Exact — every such run is found with
    its exact extent — up to the documented ``max_gram_occ`` hot-gram
    cap (grams occurring at more than that many corpus positions are
    excluded from seeding, the same occupancy discipline as the LSH /
    shingle operators; the DuckDB oracle mirrors the cap so parity
    stays exact).

    ``stride`` > 1 is the 100 TB cost knob: seeds on the A-side of
    the join are kept only at positions ≡ 1 (mod stride), cutting the
    join's left input (and its shuffle) by ~stride×. The detection
    becomes approximate with PROVABLE bounds (property-tested):
    every detected span is CONTAINED in a true shared run, every true
    run of length ≥ min_len + stride - 1 is detected, and the
    detected extent under-covers the true run by < stride - 1 chars
    on each end (island chaining groups A-positions stride apart, so
    a run's detected length is (n_seeds-1)·stride + min_len).
    PRECONDITION: stride ≤ min_len — containment relies on
    consecutive strided seeds overlapping; a larger stride would
    chain seeds across unverified characters (enforced below).
    stride=1 (default) is the exact form the DuckDB oracles verify.
    """
    if stride < 1 or stride > min_len:
        raise ValueError(
            f"stride must be in [1, min_len={min_len}], got {stride}: "
            "containment bounds need consecutive strided seeds to overlap"
        )
    grams = position_grams(docs, min_len, id_col, text_col)
    # occupancy cap: windowed count per gram hash (one shuffle on
    # gram_h, reused by the join's own hash partitioning)
    occ = Window.partitionBy("gram_h")
    grams_ok = grams.withColumn("n_occ", F.count(lit(1)).over(occ)).filter(
        col("n_occ") <= max_gram_occ
    ).drop("n_occ")

    a_side = (
        grams_ok
        if stride == 1
        else grams_ok.filter((col("pos") - 1) % stride == 0)
    )
    a = a_side.alias("a")
    b = grams_ok.alias("b")
    m = (
        a.join(b, "gram_h")
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(
            col("a.doc_id").alias("a_id"),
            col("b.doc_id").alias("b_id"),
            col("a.pos").alias("a_pos"),
            col("b.pos").alias("b_pos"),
        )
        .withColumn("diag", col("a_pos") - col("b_pos"))
    )
    isl = Window.partitionBy("a_id", "b_id", "diag").orderBy("a_pos")
    runs = m.withColumn(
        "grp", col("a_pos") - lit(stride) * F.row_number().over(isl)
    ).groupBy("a_id", "b_id", "diag", "grp")
    return runs.agg(
        F.min("a_pos").alias("a_start"),
        F.min("b_pos").alias("b_start"),
        ((F.count(lit(1)) - 1) * stride + min_len).alias("run_len"),
    ).select("a_id", "b_id", "a_start", "b_start", "run_len")


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply span removal to the HIGHER-id side of each pair: merge
    each affected doc's [b_start, b_start+run_len) intervals, cut
    them out, reassemble the kept gaps in order. Returns one row per
    AFFECTED doc: (doc_id, n_spans, removed_chars, clean_text) where
    n_spans counts MERGED intervals."""
    iv = spans.select(
        col("b_id").alias("doc_id"),
        col("b_start").alias("s"),
        (col("b_start") + col("run_len")).alias("e"),
    )
    # interval merge: an interval starts a new island iff it begins
    # past the running max end of everything before it
    by_start = Window.partitionBy("doc_id").orderBy("s", "e")
    run_max = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Staged (r11, the d04 lesson): THREE consumers read the merged
    # intervals (gaps, tails, stats) — unstaged, the whole upstream
    # span DETECTOR (gram explode → occupancy window → self-join →
    # islands) re-executed once per consumer (d20's r10 plan held 3
    # copies of the detector subtree, 66 Exchanges, 0 reuse). The
    # merged-interval table is bounded by span count (≪ corpus), so
    # materializing it is the cheap side of the trade at any scale.
    # NOTE: this makes remove_spans EAGER — a Spark job runs at call
    # time.
    merged, _ = stage(
        iv.withColumn("prev_max_e", F.max("e").over(run_max))
        .withColumn(
            "new_isl",
            F.when(
                col("prev_max_e").isNull() | (col("s") > col("prev_max_e")),
                1,
            ).otherwise(0),
        )
        .withColumn("isl", F.sum("new_isl").over(by_start))
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    # kept gaps: before each merged interval, plus the tail
    by_s = Window.partitionBy("doc_id").orderBy("s")
    gaps = merged.withColumn("prev_e", F.lag("e").over(by_s)).select(
        "doc_id",
        F.coalesce(col("prev_e"), lit(1)).alias("gs"),
        col("s").alias("ge"),
    )
    tails = (
        merged.groupBy("doc_id")
        .agg(F.max("e").alias("gs"))
        .join(
            docs.select(
                col(id_col).alias("doc_id"),
                (F.length(col(text_col)) + 1).alias("ge"),
            ),
            "doc_id",
        )
        .select("doc_id", "gs", "ge")
    )
    segs = (
        gaps.unionByName(tails)
        .join(
            docs.select(col(id_col).alias("doc_id"), col(text_col)), "doc_id"
        )
        .select(
            "doc_id",
            col("gs"),
            F.expr(
                f"substring({text_col}, CAST(gs AS INT),"
                " CAST(greatest(ge - gs, 0) AS INT))"
            ).alias("piece"),
        )
    )
    stats = merged.groupBy("doc_id").agg(
        F.count(lit(1)).alias("n_spans"),
        F.sum(col("e") - col("s")).alias("removed_chars"),
    )
    clean = segs.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("gs", "piece"))),
                lambda x: x["piece"],
            ),
            "",
        ).alias("clean_text")
    )
    return stats.join(clean, "doc_id").select(
        "doc_id", "n_spans", "removed_chars", "clean_text"
    )


def duplication_profile(
    docs: DataFrame,
    spans: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-duplication profile (SURVEY §2 #270): per ``group_col``
    — total chars, chars covered by cross-doc duplicate spans (union
    of each doc's merged b-side intervals, so overlapping spans are
    not double-counted), affected-doc count, and the duplication
    ratio in exact per-mille (BIGINT arithmetic — no float division
    feeding the hash oracle). The first number a data team asks of a
    corpus ("how much of this is duplicated text, and where does it
    come from") and the go/no-go input for running the d20 removal.

    Scale: reuses the span detector's output (pairs ≪ corpus); the
    interval merge windows per doc; the profile is one group_col
    rollup joined onto a corpus-length aggregate.
    """
    iv = spans.select(
        col("b_id").alias("doc_id"),
        col("b_start").alias("s"),
        (col("b_start") + col("run_len")).alias("e"),
    )
    by_start = Window.partitionBy("doc_id").orderBy("s", "e")
    run_max = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        iv.withColumn("prev_max_e", F.max("e").over(run_max))
        .withColumn(
            "new_isl",
            F.when(
                col("prev_max_e").isNull() | (col("s") > col("prev_max_e")),
                1,
            ).otherwise(0),
        )
        .withColumn("isl", F.sum("new_isl").over(by_start))
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.sum(col("e") - col("s")).alias("dup_chars")
    )
    base = docs.select(
        col(id_col).alias("doc_id"),
        col(group_col).alias("grp"),
        F.length(col(text_col)).cast("long").alias("n_chars"),
    )
    joined = base.join(per_doc, "doc_id", "left").select(
        "grp",
        "n_chars",
        F.coalesce(col("dup_chars"), F.lit(0)).alias("dup_chars"),
        (col("dup_chars").isNotNull()).cast("long").alias("affected"),
    )
    return (
        joined.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("affected").alias("n_affected"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("dup_chars").alias("dup_chars"),
        )
        .select(
            col("grp").alias(group_col),
            "n_docs",
            "n_affected",
            "total_chars",
            "dup_chars",
            # exact integer per-mille: TRUE integer division (`div`),
            # not floor-of-double — past ~2^43 total chars the double
            # rounds and its floor can differ by 1 from exact
            F.expr("(1000 * dup_chars) div total_chars")
            .cast("long").alias("dup_permille"),
        )
    )


def intra_doc_repeat_spans(
    docs: DataFrame,
    min_len: int = 40,
    max_gram_occ: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repeated substrings (SURVEY §2 #272) — the
    self-similarity half of Lee et al. 2022 (their suffix array also
    surfaces substrings repeated inside ONE document: boilerplate
    loops, template stutter, generation degeneracy). Same seed-and-
    chain machinery as substring_span_pairs restricted to a_id ==
    b_id with pos_a < pos_b: every maximal pair of non-identical
    occurrences of a run ≥ min_len inside a doc, with exact offsets.

    Output: (doc_id, first_start, second_start, run_len), 1-based;
    overlapping occurrences (second_start - first_start < run_len,
    i.e. periodic stutter like "ababab...") are legitimate and
    reported as-is. Downstream: the merged union of second-occurrence
    intervals is the doc's removable self-repeat mass (same interval
    tooling as remove_spans/duplication_profile).
    """
    grams = position_grams(docs, min_len, id_col, text_col)
    occ = Window.partitionBy("gram_h")
    grams_ok = grams.withColumn("n_occ", F.count(lit(1)).over(occ)).filter(
        col("n_occ") <= max_gram_occ
    ).drop("n_occ")

    a = grams_ok.alias("a")
    b = grams_ok.alias("b")
    m = (
        a.join(b, "gram_h")
        .filter(
            (col("a.doc_id") == col("b.doc_id"))
            & (col("a.pos") < col("b.pos"))
        )
        .select(
            col("a.doc_id").alias("doc_id"),
            col("a.pos").alias("a_pos"),
            col("b.pos").alias("b_pos"),
        )
        .withColumn("diag", col("b_pos") - col("a_pos"))
    )
    isl = Window.partitionBy("doc_id", "diag").orderBy("a_pos")
    return (
        m.withColumn("grp", col("a_pos") - F.row_number().over(isl))
        .groupBy("doc_id", "diag", "grp")
        .agg(
            F.min("a_pos").alias("first_start"),
            F.min("b_pos").alias("second_start"),
            (F.count(lit(1)) + lit(min_len - 1)).alias("run_len"),
        )
        .select("doc_id", "first_start", "second_start", "run_len")
    )
