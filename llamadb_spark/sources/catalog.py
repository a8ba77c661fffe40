"""Sources & sinks.

The reference persists nothing (tempdb, in-memory B+Tree pages —
/root/reference/src/tempdb/); an analytics engine at 100 TB lives
and dies by its storage layout instead:

- **Partitioned parquet** (write_partitioned): partition pruning
  turns `WHERE dt = X` into directory pruning — zero I/O for
  non-matching partitions.
- **Bucketed tables** (write_bucketed_table): pre-shuffling both
  sides of a recurring join by the join key means the join runs
  with NO exchange at read time — the single biggest shuffle saver
  for repeated big-big joins (verified by plan assertion in
  tests/test_sources.py).
- CSV/JSON readers take explicit schemas: schema inference is a
  full extra pass over 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from llamadb_spark.session import read_parquet, stage


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under
    EVOLVING schemas (columns added over time): ``mergeSchema``
    unions all file footers into one superset schema, older files
    surface NULL for columns they predate. The standard way a
    long-lived drop-directory stays readable as its producer grows —
    without it Spark samples ONE footer and silently drops newer
    columns. Costs a footer read per file at planning, which is why
    it's opt-in here rather than session-default.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Partition-selective overwrite: replaces ONLY the hive
    partitions present in ``df``, leaving the rest of the dataset
    untouched — the idempotent daily-reprocess primitive (re-running
    day N must not truncate days 1..N-1, which plain
    mode=overwrite does). Uses the per-write dynamic
    partitionOverwriteMode option, so the session default (static)
    stays safe for everything else.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_json_quarantine(
    spark: SparkSession, path: str, schema: StructType | str
) -> tuple[DataFrame, DataFrame]:
    """JSONL ingestion with malformed-record quarantine: PERMISSIVE
    mode routes unparseable lines into a capture column instead of
    failing the job (at 100 TB there is ALWAYS a corrupt line; a
    FAILFAST pipeline never finishes, and silent DROPMALFORMED loses
    auditability). Returns (clean rows, quarantined raw lines) — the
    quarantine side is what gets written to a dead-letter path.

    One scan serves both sides: Spark refuses to evaluate a query
    that references ONLY the corrupt-record capture column
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the raw read is staged
    (one eager job) and both filters carve it — which is also the
    efficient shape (one pass populates both outputs).
    """
    from pyspark.sql import functions as F

    if isinstance(schema, str):
        from pyspark.sql.types import StructType, _parse_datatype_string

        schema = _parse_datatype_string(schema)
    else:
        from pyspark.sql.types import StructType
    # Copy before extending: StructType.add appends to self, which
    # would silently leak _corrupt_record into the caller's schema.
    schema_with_capture = StructType(list(schema.fields)).add(
        "_corrupt_record", "string"
    )
    raw, _ = stage(
        spark.read.schema(schema_with_capture)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return clean, bad


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_mb: int = 512,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~target_mb. Streaming sinks and per-partition writers leave
    thousands of KB-sized files; at 100 TB the file-listing and
    per-file open overhead dominates scan time (the classic
    small-files problem). Sizing uses the dataset's on-disk bytes —
    metadata only, no data pass — then one repartition write.

    Returns the output file count.
    """
    import math
    import os
    from urllib.parse import urlparse

    df = read_parquet(spark, src_path)
    paths = [urlparse(p).path for p in df.inputFiles()]
    total = sum(os.path.getsize(p) for p in paths if os.path.exists(p)) or 1
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files


def write_range_layout(
    df: DataFrame, path: str, sort_cols: list[str], num_files: int | None = None
) -> None:
    """Range-partitioned, sorted parquet layout: repartitionByRange
    on the sort keys then sortWithinPartitions before writing — every
    output file covers a DISJOINT key range, so the parquet min/max
    row-group statistics become selective and a point/range filter
    skips whole files (verified against footer metadata in
    tests/test_sources.py). The single-column analog of Z-ordering:
    the right layout when one key dominates the filter workload.
    """
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def zorder_value(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative ints, each
    truncated to ``bits`` bits — one JVM-codegen'd expression (2×bits
    shift/mask terms), no UDF. Sorting by the result clusters rows
    that are close in BOTH dimensions, so parquet min/max stats prune
    files for filters on either column — the 2-D generalization of
    write_range_layout's single-key clustering. Callers bucket
    non-integer keys first (hash, date-ordinal, ntile).
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    return z


def write_zorder_layout(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int,
    bits: int = 16,
) -> None:
    """Z-ordered parquet layout over two integer columns: range-
    partition + sort by the Morton value, drop the helper column,
    write. Each output file then covers a compact rectangle in
    (col_a, col_b) space — verified against footer stats in
    tests/test_sources.py — instead of a full-width stripe as a
    lexicographic sort would give the second column.
    """
    from pyspark.sql import functions as F

    with_z = df.withColumn("_z", zorder_value(F.col(col_a), F.col(col_b), bits))
    (
        with_z.repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — columnar like parquet (self-describing schema,
    vectorized scan, predicate pushdown); the interchange format when
    upstream systems are Hive/ORC-based."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet: one directory per partition
    value; readers prune directories via partition filters."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist df as a bucketed (and optionally sorted) managed
    table. Joins/aggregations on the bucket key across two tables
    bucketed the same way run WITHOUT a shuffle."""
    spark = df.sparkSession
    if mode == "overwrite":
        # with the in-memory catalog, a previous session's managed-
        # table directory can outlive its catalog entry; clear both
        # or saveAsTable fails with LOCATION_ALREADY_EXISTS
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        stale = f"{warehouse}/{table_name.lower()}"
        import shutil

        shutil.rmtree(stale, ignore_errors=True)
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text ingestion, one row per line, with file provenance and
    within-file line numbers — the first step of a corpus pipeline
    over crawl/log dumps.

    Provenance is computed with input_file_name() and a per-file
    window row_number; at 100 TB the window shuffles on file name —
    acceptable because line order within a file is only meaningful
    per file (one partition per file ≈ how the scan splits anyway).
    Callers that don't need line numbers should project them away
    (Catalyst then drops the window entirely).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("source_file").orderBy(F.monotonically_increasing_id())
    return (
        spark.read.text(path)
        .select(
            F.col("value").alias("line"),
            F.input_file_name().alias("source_file"),
        )
        .withColumn("line_no", F.row_number().over(w).cast("long"))
    )


def read_text_whole(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file text ingestion: one row per file (document = file).
    wholeTextFiles is the right tool for many-small-files corpora;
    for huge single files prefer read_text_lines + reassembly.
    """
    rdd = spark.sparkContext.wholeTextFiles(path)
    return rdd.toDF(["source_file", "text"])


def analyze_for_cbo(spark: SparkSession, tables: list[str]) -> None:
    """Collect table + column statistics so Spark's cost-based
    optimizer can estimate cardinalities: row counts, sizes, and
    per-column NDV/min/max/null counts (``ANALYZE TABLE … COMPUTE
    STATISTICS FOR ALL COLUMNS``).

    Why it matters at 100 TB: with ``spark.sql.cbo.enabled`` +
    ``spark.sql.cbo.joinReorder.enabled`` the optimizer REORDERS
    multi-way joins from estimated cardinalities — building small
    dimension⨝dimension intermediates before touching the fact table
    — instead of executing joins in the order the query was written.
    AQE fixes sizes at runtime per stage; CBO fixes the JOIN ORDER at
    plan time, which AQE cannot change. The reorder is asserted in
    tests/test_sources.py (same star query, order flips once stats
    exist), reference analogue: llamadb has no optimizer statistics
    at all — docs/Query Planner.md plans purely syntactically.

    Stats go stale as data changes: re-run after large writes (the
    dialect's versioned commits re-cluster instead — different
    mechanism, same freshness discipline).
    """
    for t in tables:
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")


def write_parquet_tuned(
    df: DataFrame,
    path: str,
    codec: str = "zstd",
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink with the two knobs a 100 TB layout is actually
    tuned by: the COMPRESSION CODEC (zstd ≈ 1.3-1.6× smaller than
    snappy at comparable scan speed — at petabyte scale that ratio is
    the storage bill) and MAX RECORDS PER FILE (bounds file size
    independent of partition count, so one skewed partition can't
    emit a multi-GB file that breaks downstream split planning).
    Codec is recorded per column chunk in the footer, so readers
    need no configuration and mixed-codec datasets read fine.
    """
    w = df.write.mode(mode).option("compression", codec)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)
