"""SparkSession factory and table catalog.

The reference engine (llamadb ``src/tempdb/mod.rs``) keeps tables in
memory and scans them row-at-a-time. Here tables are parquet files
read through Spark's vectorized columnar reader; predicate pushdown
and column pruning replace the reference's full-table scans.

Scale notes (100 TB design):
- AQE enabled: runtime shuffle-partition coalescing + skew-join
  splitting replace hand-tuned partition counts at large SF.
- ``spark.sql.shuffle.partitions`` defaults to cpu count locally;
  on a real cluster AQE coalesces upward from
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- Arrow enabled for the few pandas-UDF paths (decode stubs).
"""

from __future__ import annotations

import glob
import os
import weakref

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any realistic SF
#: (region=5 rows, nation=25 rows regardless of SF — TPC-H-style).
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "llamadb_spark", cpus: int | None = None) -> SparkSession:
    """Build a session tuned for local testing but configured the way
    a 1000-executor deployment would be (AQE, pushdown, Arrow)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # InferFiltersFromGenerate turns explode(col) into a
        # `size(col)>0` filter that pushdown re-inlines below the
        # producing projection — re-evaluating expensive array
        # constructions (shingling) once per row per reference.
        # Our generates always run over non-null arrays, so the
        # inferred filter can only cost, never prune (measured 12×
        # on d02 at sf0.1).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert (see events loader).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off for bench/test runs (allocs ~100 MB + a jetty
        # thread pool); SPARK_GRAFT_UI=1 turns it on for the
        # profiling tool (tools/profile_keys.py needs the REST API).
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
    )
    return builder.getOrCreate()


#: The confs that change what Spark infers from a parquet footer: a
#: schema remembered under one setting is not the one inferred under
#: another.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: SparkContext -> {absolute path: (stamp, schema)}. Held per context,
#: not per session object: foreachBatch hands every micro-batch a
#: fresh session over a cloned one, and a commit made there must be
#: remembered for the reads that follow the drain.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stamp(spark: SparkSession, *paths: str) -> list[tuple | None]:
    """What a remembered schema of each path is valid for: the path's
    inode, mtime and size, and the session's inference confs. ``None``
    for a path that ``os.stat`` cannot see."""
    confs = tuple(spark.conf.get(k, None) for k in _INFER_CONFS)
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            out.append(None)
            continue
        out.append((st.st_ino, st.st_mtime_ns, st.st_size, confs))
    return out


def _nullable(dt: DataType) -> DataType:
    """``dt`` as a file source reads it back: every field, array
    element and map value nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _remember(spark: SparkSession, path: str, schema: StructType) -> None:
    (stamp,) = _stamp(spark, path)
    if stamp is not None:
        memo = _SCHEMAS.setdefault(spark.sparkContext, {})
        memo[os.path.abspath(path)] = (stamp, _nullable(schema))


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet ``paths`` without Spark's schema-inference job when
    the schema is already known: the one parquet reader of the package.

    A path written by ``write_parquet``, or read here before, is read
    under the schema remembered for it, while its inode, mtime, size
    and the session's inference confs are unchanged (Spark forces a
    user schema nullable exactly as it does an inferred one, so the
    two read back equal). Several paths are read under one schema only
    if every path remembers that same schema; otherwise Spark infers
    (one job), and a single path remembers the result. A path that
    ``os.stat`` cannot see is inferred on every read."""
    memo = _SCHEMAS.get(spark.sparkContext, {})
    known = []
    for p, stamp in zip(paths, _stamp(spark, *paths)):
        entry = memo.get(os.path.abspath(p))
        hit = stamp is not None and entry is not None and entry[0] == stamp
        known.append(entry[1] if hit else None)
    if known[0] is not None and all(s == known[0] for s in known):
        return spark.read.schema(known[0]).parquet(*paths)
    df = spark.read.parquet(*paths)
    if len(paths) == 1:
        _remember(spark, paths[0], df.schema)
    return df


def write_parquet(df: DataFrame, path: str, mode: str) -> None:
    """``df.write.mode(mode).parquet(path)``, remembering ``df.schema``
    for ``read_parquet``. An append remembers it only when the
    directory held no parquet file before: otherwise the files may
    disagree and the next read infers."""
    fresh = mode != "append" or not glob.glob(
        os.path.join(glob.escape(path), "*.parquet")
    )
    df.write.mode(mode).parquet(path)
    if fresh:
        _remember(df.sparkSession, path, df.schema)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of an sf directory (``<sf_dir>/<name>.parquet``)."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load parquet tables from an sf directory.

    Columnar scans with pushdown; callers select only needed columns
    so ``ReadSchema`` stays pruned (checked in tests/bench).
    """
    return {name: read_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register them as temp views for spark.sql()."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """An empty DataFrame of ``schema`` that Catalyst folds to an empty
    ``LocalRelation``, so reading it runs no task.

    ``spark.createDataFrame([], schema)`` is a Python-RDD scan instead:
    every read of it schedules one empty task per default partition.
    Every column here is nullable.
    """
    return (
        spark.range(1)
        .where(F.lit(False))
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])
    )


def stage(
    df: DataFrame, *metrics, names: list[str] | None = None
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with one ``localCheckpoint`` job: the one way
    the package stages an intermediate.

    Returns ``(staged, observed)``: ``observed`` holds the row count
    ``n`` and every aggregate in ``metrics``, computed by the same job
    (an Observation, no second pass). The first ``len(names)`` columns
    (default: all) are staged under ``names``; any further columns are
    read only by ``metrics``, which is how a metric reads a value of
    the staged rows (e.g. ``bit_xor(_h)`` over an extra ``_h`` hash
    column).

    The columns cross the observe node under temporary names: two
    renames that the optimizer can neither collapse nor strip, so the
    checkpoint outputs fresh, unqualified attributes. A plain
    pass-through of a view column (``g.v``) would carry the source
    relation's unqualified constraints under a qualified attribute;
    Spark's checkpoint keeps such constraints on an attribute id it
    no longer outputs, and the next union over the checkpoint fails
    analysis ("key not found").

    The blocks are executor-local (not durable): losing an executor
    loses the staged rows."""
    names = names or df.columns
    tmp = [f"_c{i}" for i in range(len(names))]
    obs = Observation()
    staged = (
        df.toDF(*tmp, *df.columns[len(tmp):])
        .observe(obs, F.expr("count(1) AS n"), *metrics)
        .select(*tmp)
        .toDF(*names)
        .localCheckpoint()
    )
    return staged, obs.get
