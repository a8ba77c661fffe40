"""Source/sink tests. The bucketed-join test is the scale contract:
two tables bucketed on the join key must join with NO exchange."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F

from llamadb_spark.plans import formatted_plan
from llamadb_spark.sources import (
    read_csv,
    read_json,
    write_bucketed_table,
    write_partitioned,
)


def test_csv_roundtrip(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with tempfile.TemporaryDirectory() as d:
        nation.write.mode("overwrite").option("header", "true").csv(f"{d}/nation_csv")
        back = read_csv(
            spark, f"{d}/nation_csv", "n_nationkey int, n_name string, n_regionkey int"
        )
        assert sorted(r.n_name for r in back.collect()) == sorted(
            r.n_name for r in nation.collect()
        )


def test_json_roundtrip(spark, sf_dir):
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    with tempfile.TemporaryDirectory() as d:
        region.write.mode("overwrite").json(f"{d}/region_json")
        back = read_json(spark, f"{d}/region_json", "r_regionkey int, r_name string")
        assert back.count() == region.count()


def test_partitioned_write_prunes(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with tempfile.TemporaryDirectory() as d:
        write_partitioned(orders, f"{d}/orders_part", ["o_orderstatus"])
        back = spark.read.parquet(f"{d}/orders_part")
        q = back.filter(F.col("o_orderstatus") == "F")
        plan = formatted_plan(q)
        # partition filter must reach the scan as a PartitionFilter,
        # not a post-scan Filter
        assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
            "PartitionFilters"
        )[1].split("\n")[0]
        assert q.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """THE scale assertion: joining two tables bucketed on the join
    key must not exchange (pre-shuffled storage layout), with and
    without sorted buckets."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    want = orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    for sort in (False, True):
        write_bucketed_table(
            orders, "orders_bkt", ["o_custkey"], num_buckets=4,
            sort_cols=["o_custkey"] if sort else None,
        )
        write_bucketed_table(
            customer, "customer_bkt", ["c_custkey"], num_buckets=4,
            sort_cols=["c_custkey"] if sort else None,
        )
        o = spark.table("orders_bkt")
        c = spark.table("customer_bkt")
        joined = o.join(
            c.hint("merge"), o.o_custkey == c.c_custkey
        )  # force SMJ so broadcast doesn't mask the bucketing
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing removed both shuffles
        assert joined.count() == want


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from llamadb_spark.sources.catalog import read_orc, write_orc

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path)
    back = read_orc(spark, path)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}
    # predicate pushdown reaches the ORC scan
    plan = formatted_plan(back.filter(F.col("n_regionkey") == 1))
    assert "PushedFilters" in plan and "n_regionkey" in plan.split("PushedFilters")[1].split("\n")[0]


def test_read_text_lines_provenance(spark, tmp_path):
    from llamadb_spark.sources.catalog import read_text_lines, read_text_whole

    (tmp_path / "a.txt").write_text("alpha\nbeta\ngamma\n")
    (tmp_path / "b.txt").write_text("delta\n")
    df = read_text_lines(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == 4
    by_file = {}
    for r in rows:
        by_file.setdefault(r.source_file.rsplit("/", 1)[-1], []).append(r)
    assert {f for f in by_file} == {"a.txt", "b.txt"}
    a = sorted(by_file["a.txt"], key=lambda r: r.line_no)
    # line numbers are contiguous per file and order preserves content
    assert [r.line_no for r in a] == [1, 2, 3]
    assert [r.line for r in a] == ["alpha", "beta", "gamma"]

    whole = read_text_whole(spark, str(tmp_path / "a.txt")).collect()
    assert len(whole) == 1 and whole[0].text == "alpha\nbeta\ngamma\n"


def test_json_quarantine_splits_clean_and_corrupt(spark, tmp_path):
    from llamadb_spark.sources.catalog import read_json_quarantine

    p = tmp_path / "events.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        "this is not json at all\n"
        '{"id": broken\n'
    )
    clean, bad = read_json_quarantine(spark, str(p), "id long, name string")
    assert {(r.id, r.name) for r in clean.collect()} == {(1, "ok"), (2, "also ok")}
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert bad_lines == ["this is not json at all", '{"id": broken']


def test_json_quarantine_does_not_mutate_caller_schema(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from llamadb_spark.sources.catalog import read_json_quarantine

    p = tmp_path / "rows.jsonl"
    p.write_text('{"id": 1, "name": "ok"}\n')
    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    read_json_quarantine(spark, str(p), schema)
    # StructType.add appends in place; a leaked _corrupt_record field
    # would corrupt every later read reusing this schema object.
    assert [f.name for f in schema.fields] == ["id", "name"]


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from llamadb_spark.sources.catalog import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compact")
    spark.range(10_000).repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 64
    n = compact_parquet(spark, src, dst, target_mb=512)
    assert n == 1
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 10_000


def test_range_layout_files_cover_disjoint_ranges(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from llamadb_spark.sources.catalog import write_range_layout

    dst = str(tmp_path / "ranged")
    df = spark.range(100_000).withColumnRenamed("id", "user_id")
    write_range_layout(df, dst, ["user_id"], num_files=8)
    spans = []
    for f in glob.glob(f"{dst}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
    spans.sort()
    assert len(spans) == 8
    # disjoint: every file's max < next file's min ⇒ a point filter
    # matches exactly one file's stats window
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    assert spark.read.parquet(dst).count() == 100_000


def test_zorder_layout_bounds_both_dimensions(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from llamadb_spark.sources.catalog import write_zorder_layout

    dst = str(tmp_path / "zordered")
    grid = spark.sql(
        "SELECT x, y FROM (SELECT explode(sequence(0, 255)) AS x) "
        "CROSS JOIN (SELECT explode(sequence(0, 255)) AS y)"
    )
    write_zorder_layout(grid, dst, "x", "y", num_files=16, bits=8)

    def file_bounds(f):
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        bounds = {}
        for c, name in enumerate(names):
            lo = min(md.row_group(i).column(c).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(c).statistics.max for i in range(md.num_row_groups))
            bounds[name] = (lo, hi)
        return bounds

    def file_spans(f):
        return {k: hi - lo for k, (lo, hi) in file_bounds(f).items()}

    def files_touched(path, dim, lo=100, hi=110):
        """Files whose footer min/max intersect a ~4% range of `dim`:
        the files a stats-pruning reader must open."""
        return sum(
            1
            for f in glob.glob(f"{path}/*.parquet")
            if file_bounds(f)[dim][0] <= hi and file_bounds(f)[dim][1] >= lo
        )

    files = glob.glob(f"{dst}/*.parquet")
    assert len(files) == 16
    spans = [file_spans(f) for f in files]
    # Z-order: files cover compact rectangles — on AVERAGE both dims
    # sit far below the global 0..255 span (a file straddling a
    # quadrant boundary can still span wide, so the mean is the
    # stable statistic). A lexicographic (x, y) sort would pin every
    # file's y-span at 255.
    mean = lambda dim: sum(s[dim] for s in spans) / len(spans)  # noqa: E731
    assert mean("x") <= 120
    assert mean("y") <= 120
    assert spark.read.parquet(dst).count() == 256 * 256

    # lexicographic baseline: tight x, full-width y — the failure
    # mode z-ordering exists to fix
    lex = str(tmp_path / "lex")
    grid.repartitionByRange(16, "x", "y").sortWithinPartitions(
        "x", "y"
    ).write.mode("overwrite").parquet(lex)
    lex_spans = [file_spans(f) for f in glob.glob(f"{lex}/*.parquet")]
    assert sum(s["y"] for s in lex_spans) / len(lex_spans) > 200
    # pruning: a range on the SECOND dimension alone opens every lex
    # file but at most half of the Z-order files (4 of 16 measured),
    # and Z-order still prunes on the first dimension
    assert files_touched(lex, "y") == len(lex_spans)
    assert files_touched(dst, "y") <= 16 // 2
    assert files_touched(dst, "x") < 16


def test_versioned_table_time_travel_and_diff(spark, tmp_path):
    from llamadb_spark.sources.versioned import (
        read_version,
        version_diff,
        versions,
        write_version,
    )

    path = str(tmp_path / "vtable")
    v0_df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "val"]
    )
    assert write_version(v0_df, path) == 0
    v1_df = spark.createDataFrame(
        # id 2 updated, id 3 deleted, id 4 inserted
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0)], ["id", "name", "val"]
    )
    assert write_version(v1_df, path) == 1
    assert versions(path) == [0, 1]

    # time travel: both snapshots intact
    assert {r.id for r in read_version(spark, path, 0).collect()} == {1, 2, 3}
    assert {r.id for r in read_version(spark, path).collect()} == {1, 2, 4}

    diff = {
        (r.id, r.change)
        for r in version_diff(spark, path, 0, 1, ["id"]).collect()
    }
    assert diff == {(2, "update"), (3, "delete"), (4, "insert")}

    # NULL-involved updates must not be classified as unchanged
    # (struct != is NULL when a field is NULL on either side)
    n0 = spark.createDataFrame([(1, None), (2, 5.0)], "id long, val double")
    n1 = spark.createDataFrame([(1, 7.0), (2, None)], "id long, val double")
    npath = str(tmp_path / "vnulls")
    write_version(n0, npath)
    write_version(n1, npath)
    ndiff = {
        (r.id, r.change)
        for r in version_diff(spark, npath, 0, 1, ["id"]).collect()
    }
    assert ndiff == {(1, "update"), (2, "update")}


def test_merged_schema_read_unions_evolving_files(spark, tmp_path):
    """Files written under older schemas surface NULL for columns
    they predate; a plain read would sample one footer and can drop
    the newer column entirely."""
    from llamadb_spark.sources.catalog import read_merged_schema

    dst = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(dst)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(dst)
    got = read_merged_schema(spark, dst)
    assert set(got.columns) == {"id", "name", "score"}
    rows = {(r.id, r.name, r.score) for r in got.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_dynamic_partition_overwrite_keeps_other_partitions(spark, tmp_path):
    """Re-writing day=2 must not truncate day=1 (plain overwrite
    does); only partitions present in the incoming frame change."""
    from llamadb_spark.sources.catalog import overwrite_partitions_dynamic

    dst = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(1, 1, "old1"), (2, 2, "old2")], "id long, day int, v string"
    )
    overwrite_partitions_dynamic(full, dst, ["day"])
    redo = spark.createDataFrame([(3, 2, "new2")], "id long, day int, v string")
    overwrite_partitions_dynamic(redo, dst, ["day"])
    rows = {(r.id, r.day, r.v) for r in spark.read.parquet(dst).collect()}
    assert rows == {(1, 1, "old1"), (3, 2, "new2")}


def test_incremental_agg_matches_recompute(spark, tmp_path):
    """IVM: applying the version changelog to the previous aggregate
    must equal a full recompute of the new snapshot — including
    updates that MOVE rows between groups and groups that empty out.
    Float totals compared to 1e-6 (delta application reorders sums)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from llamadb_spark.sources.versioned import (
        maintain_group_agg,
        read_version,
        version_changelog,
        write_version,
    )

    path = str(tmp_path / "ivm_table")
    v0_rows = [
        Row(id=1, grp="a", val=10.0),
        Row(id=2, grp="a", val=20.0),
        Row(id=3, grp="b", val=5.0),
        Row(id=4, grp="c", val=7.0),  # group c will empty out
    ]
    write_version(spark.createDataFrame(v0_rows), path)
    v1_rows = [
        Row(id=1, grp="a", val=11.0),   # in-place update
        Row(id=2, grp="b", val=20.0),   # moves a -> b
        Row(id=3, grp="b", val=5.0),    # unchanged
        Row(id=5, grp="d", val=3.0),    # insert into new group
    ]                                    # id=4 deleted -> c empties
    write_version(spark.createDataFrame(v1_rows), path)

    def full_agg(df):
        return df.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("total")
        )

    prev = full_agg(read_version(spark, path, 0))
    log = version_changelog(spark, path, 0, 1, key_cols=["id"])
    got = {
        r.grp: (r.n_rows, r.total)
        for r in maintain_group_agg(prev, log, "grp", "val").collect()
    }
    want = {
        r.grp: (r.n_rows, r.total)
        for r in full_agg(read_version(spark, path, 1)).collect()
    }
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0]
        assert abs(got[g][1] - want[g][1]) < 1e-6
    assert "c" not in got  # emptied group dropped, like the recompute


def test_incremental_agg_null_group_not_double_counted(spark, tmp_path):
    """A NULL group key is ONE group to groupBy — the IVM merge must
    treat it the same (null-safe join), not emit prev/delta rows
    separately."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from llamadb_spark.sources.versioned import (
        maintain_group_agg,
        read_version,
        version_changelog,
        write_version,
    )

    schema = StructType([
        StructField("id", LongType()), StructField("grp", StringType()),
        StructField("val", DoubleType()),
    ])
    path = str(tmp_path / "ivm_null")
    write_version(
        spark.createDataFrame(
            [Row(id=1, grp=None, val=4.0), Row(id=2, grp="a", val=1.0)], schema
        ),
        path,
    )
    write_version(
        spark.createDataFrame(
            [Row(id=1, grp=None, val=4.0), Row(id=2, grp="a", val=1.0),
             Row(id=3, grp=None, val=6.0)], schema
        ),
        path,
    )

    def full_agg(df):
        return df.groupBy("grp").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("val").alias("total")
        )

    prev = full_agg(read_version(spark, path, 0))
    log = version_changelog(spark, path, 0, 1, key_cols=["id"])
    rows = maintain_group_agg(prev, log, "grp", "val").collect()
    got = {r.grp: (r.n_rows, r.total) for r in rows}
    assert len(rows) == 2  # exactly one row per group incl. the NULL group
    assert got[None] == (2, 10.0) and got["a"] == (1, 1.0)


def test_cbo_stats_drive_join_reorder(spark, sf_dir, tmp_path):
    """Cost-based optimization: after ANALYZE TABLE, (1) the
    optimizer's rowCount estimates equal the true table sizes, and
    (2) with CBO + joinReorder enabled the star query's join order
    CHANGES — the two small dimensions join first and the fact table
    joins once, instead of the as-written fact-first order. Results
    must be identical either way."""
    import re

    from llamadb_spark.sources.catalog import analyze_for_cbo

    names = ["cbo_t_orders", "cbo_t_cust", "cbo_t_nat"]
    srcs = {
        "cbo_t_orders": ("orders", ["o_orderkey", "o_custkey"]),
        "cbo_t_cust": ("customer", ["c_custkey", "c_nationkey"]),
        "cbo_t_nat": ("nation", ["n_nationkey", "n_name"]),
    }
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.cbo.joinReorder.enabled",
        )
    }
    try:
        for name in names:
            tbl, cols = srcs[name]
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
                .select(*cols)
                .write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .saveAsTable(name)
            )
        analyze_for_cbo(spark, names)

        # (1) exact rowCount statistics on every analyzed scan
        # (rowCount is only surfaced by the CBO stats visitor — with
        # cbo off, plans carry sizeInBytes alone)
        spark.conf.set("spark.sql.cbo.enabled", "true")
        for name in names:
            stats = (
                spark.table(name)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
            )
            assert int(str(stats.rowCount().get())) == spark.table(
                name
            ).count()

        q = (
            "SELECT n_name, count(*) AS c "
            "FROM cbo_t_orders, cbo_t_nat, cbo_t_cust "
            "WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey "
            "GROUP BY n_name"
        )

        def join_order(cbo: str) -> list[str]:
            spark.conf.set("spark.sql.cbo.enabled", cbo)
            spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo)
            p = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
            return re.findall(r"default\.(cbo_t_\w+)", p)

        off = join_order("false")
        on = join_order("true")
        # as written, the fact table leads; CBO must move it off the
        # build-first position (dims join each other before the fact)
        assert off[0] == "cbo_t_orders"
        assert on != off and on[0] != "cbo_t_orders", (off, on)

        # (2) same answers with and without CBO
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        want = {(r.n_name, r.c) for r in spark.sql(q).collect()}
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        got = {(r.n_name, r.c) for r in spark.sql(q).collect()}
        assert got == want and len(want) > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: when the fact table is partitioned
    on the join key and the dim side carries a runtime-only filter,
    Spark injects a dynamicpruning subquery into the fact scan's
    PartitionFilters — at 100 TB this skips whole partition
    directories the dim filter rules out, before any fact bytes are
    read. Asserted on the executed plan, with result equality against
    the statically-filtered equivalent."""
    import pyspark.sql.functions as F

    from llamadb_spark.sources.catalog import write_partitioned

    od = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(od, path, ["o_year"])
    fact = spark.read.parquet(path)

    # dim filter the fact scan cannot fold statically (derived flag)
    dim = (
        fact.select("o_year")
        .distinct()
        .withColumn("flag", (F.col("o_year") % 7 == 0).cast("int"))
        .filter(F.col("flag") == 1)
        .select("o_year")
    )
    j = fact.join(dim, "o_year").agg(
        F.round(F.sum("o_totalprice"), 2).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    got = j.collect()[0]
    years = [r.o_year for r in dim.collect()]
    want = (
        fact.filter(F.col("o_year").isin(years))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert (got.s, got.n) == (want.s, want.n) and got.n > 0


def test_versioned_vacuum_retention(spark, tmp_path):
    """vacuum keeps the newest N snapshots readable (time travel
    intact), removes older directories, never touches the manifest,
    and refuses keep_last < 1."""
    import pytest

    from llamadb_spark.sources.versioned import (
        latest_version,
        read_version,
        vacuum,
        versions,
        write_version,
    )

    path = str(tmp_path / "vtab")
    for i in range(5):
        write_version(
            spark.createDataFrame([(i,)], "x long"), path
        )
    assert versions(path) == [0, 1, 2, 3, 4]

    removed = vacuum(path, keep_last=2)
    assert removed == [0, 1, 2]
    assert versions(path) == [3, 4]
    assert latest_version(path) == 4
    assert read_version(spark, path, 3).collect()[0].x == 3
    assert read_version(spark, path).collect()[0].x == 4

    # vacuum below the retained window is a no-op
    assert vacuum(path, keep_last=10) == []
    with pytest.raises(ValueError):
        vacuum(path, keep_last=0)

    # a new commit after vacuum lands at the next version number
    write_version(spark.createDataFrame([(99,)], "x long"), path)
    assert versions(path) == [3, 4, 5]


def test_write_parquet_tuned_codec_and_file_bound(spark, tmp_path):
    """Tuned writer: the requested codec lands in every parquet
    column chunk's footer, maxRecordsPerFile bounds file sizes, and
    the data round-trips exactly."""
    import glob

    import pyarrow.parquet as pq

    from llamadb_spark.sources.catalog import write_parquet_tuned

    df = spark.range(10_000).selectExpr(
        "id", "concat('v', id) AS v"
    ).repartition(2)
    dst = str(tmp_path / "tuned")
    write_parquet_tuned(df, dst, codec="zstd", max_records_per_file=3000)

    files = glob.glob(f"{dst}/*.parquet")
    # 2 partitions x 5000 rows, capped at 3000/file -> 2 files each
    assert len(files) == 4
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.num_rows <= 3000
        for g in range(md.num_row_groups):
            for c in range(md.row_group(g).num_columns):
                assert md.row_group(g).column(c).compression == "ZSTD"
    back = spark.read.parquet(dst)
    assert back.count() == 10_000
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(10_000))


# -- one parquet reader -------------------------------------------------


def _jobs(spark, fn):
    """(fn(), Spark jobs fn ran), counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"parquet-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_parquet_infers_a_path_once(spark, tmp_path):
    """The first read of a path runs Spark's schema-inference job; the
    second reads under the remembered schema and runs none."""
    from llamadb_spark.session import read_parquet

    path = str(tmp_path / "t")
    spark.range(5).selectExpr("id", "cast(id AS string) AS s").write.parquet(
        path
    )
    first, n_first = _jobs(spark, lambda: read_parquet(spark, path))
    second, n_second = _jobs(spark, lambda: read_parquet(spark, path))
    assert (n_first, n_second) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_write_parquet_reads_back_without_inference(spark, tmp_path):
    """A path written by write_parquet reads with no job, under the
    schema Spark would infer: every field, array element and map value
    nullable, as a file source reads any schema."""
    from pyspark.sql import functions as F

    from llamadb_spark.session import read_parquet, write_parquet

    df = spark.range(3).select(
        "id",
        F.array(F.col("id"), F.lit(7)).alias("a"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.struct(F.col("id").alias("x")).alias("st"),
    )
    assert not df.schema["id"].nullable
    path = str(tmp_path / "w")
    write_parquet(df, path, "overwrite")
    back, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert back.schema == spark.read.parquet(path).schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_read_parquet_sees_an_overwrite(spark, tmp_path):
    """Overwriting a path with another schema, outside write_parquet,
    changes what the path's stat records, so the next read returns the
    new schema instead of the remembered one."""
    from pyspark.sql.types import StringType

    from llamadb_spark.session import read_parquet, write_parquet

    path = str(tmp_path / "o")
    write_parquet(spark.range(3), path, "overwrite")
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("cast(id AS string) AS name").write.mode(
        "overwrite"
    ).parquet(path)
    back = read_parquet(spark, path)
    assert back.columns == ["name"]
    assert back.schema["name"].dataType == StringType()


def test_read_parquet_reinfers_when_nanos_as_long_flips(spark, tmp_path):
    """A schema remembered under one ``nanosAsLong`` setting is not
    reused under the other: TIMESTAMP(NANOS) reads as a long while the
    conf is on, and once it is off the path is inferred again, which
    rejects the type instead of reading it as the remembered long."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql.types import LongType

    from llamadb_spark.session import read_parquet

    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table(
            {"ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("ns"))}
        ),
        path,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["ts"].dataType == LongType()
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, saved)
