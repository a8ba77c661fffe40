"""llamadb SQL dialect tests — modeled on the reference's end-to-end
SQL tests (tempdb/mod.rs: create → insert → select round trips) and
Usage.md's documented semantics."""

from __future__ import annotations

import pytest

from llamadb_spark.sql import LlamaSession
from llamadb_spark.sql.dialect import LlamaError, translate_type
from pyspark.sql import types as T


@pytest.fixture()
def db(spark):
    return LlamaSession(spark)


def test_type_mapping():
    # mirrors DbType::from_identifier (types/mod.rs:31-66)
    assert isinstance(translate_type("U8")[0], T.ShortType)
    assert translate_type("U8")[1] == (0, 255)
    assert isinstance(translate_type("I8")[0], T.ByteType)
    assert isinstance(translate_type("U32")[0], T.LongType)
    assert isinstance(translate_type("I32")[0], T.IntegerType)
    assert isinstance(translate_type("U64")[0], T.DecimalType)
    assert translate_type("U64")[1] == (0, 2**64 - 1)
    assert isinstance(translate_type("int")[0], T.IntegerType)
    assert isinstance(translate_type("F64")[0], T.DoubleType)
    assert isinstance(translate_type("DOUBLE")[0], T.DoubleType)
    assert isinstance(translate_type("STRING")[0], T.StringType)
    assert isinstance(translate_type("byte", "")[0], T.BinaryType)
    assert isinstance(translate_type("byte")[0], T.ShortType)  # byte = U8
    with pytest.raises(LlamaError):
        translate_type("U7")
    with pytest.raises(LlamaError):
        translate_type("U128")


def test_usage_md_example_roundtrip(db):
    # the Usage.md person/country example, end to end
    db.execute(
        """CREATE TABLE person (
            id U32,
            name STRING,
            age U8,
            country_id U32,
            salary U64 NULL     -- nullable: person may be unemployed
        )"""
    )
    db.execute(
        """CREATE TABLE country (
            id U32, name STRING, formation_year I16
        )"""
    )
    db.execute(
        "INSERT INTO country VALUES (0, 'Canada', 1867), "
        "(1, 'United States of America', 1776)"
    )
    db.execute(
        "INSERT INTO person VALUES (0, 'Joe', 35, 0, NULL), "
        "(1, 'Quentin', 61, 1, 44232), (2, 'Barbara', 17, 1, NULL), "
        "(3, 'Joanne', 26, 0, 51700)"
    )
    out = db.execute(
        "SELECT person.name AS name, country.name AS country "
        "FROM person, country WHERE person.country_id = country.id "
        "AND age >= 18"
    ).collect()
    assert {(r.name, r.country) for r in out} == {
        ("Joe", "Canada"),
        ("Quentin", "United States of America"),
        ("Joanne", "Canada"),
    }


def test_implicit_not_null_rejected(db):
    db.execute("CREATE TABLE t (id U32, name STRING)")
    with pytest.raises(LlamaError, match="NOT NULL"):
        db.execute("INSERT INTO t VALUES (1, NULL)")


def test_nullable_column_accepts_null(db):
    db.execute("CREATE TABLE t (id U32, note STRING NULL)")
    db.execute("INSERT INTO t VALUES (1, NULL)")
    assert db.execute("SELECT count(*) AS n FROM t").collect()[0].n == 1


def test_unsigned_range_enforced(db):
    db.execute("CREATE TABLE t (id U8)")
    db.execute("INSERT INTO t VALUES (255)")
    with pytest.raises(LlamaError, match="out of range"):
        db.execute("INSERT INTO t VALUES (256)")
    with pytest.raises(LlamaError, match="out of range"):
        db.execute("INSERT INTO t VALUES (-1)")


def test_insert_select(db):
    db.execute("CREATE TABLE src (id U32, v F64)")
    db.execute("INSERT INTO src VALUES (1, 1.5), (2, 2.5)")
    db.execute("CREATE TABLE dst (id U32, v F64)")
    db.execute("INSERT INTO dst SELECT id, v * 2 FROM src")
    got = sorted((r.id, r.v) for r in db.execute("SELECT * FROM dst").collect())
    assert got == [(1, 3.0), (2, 5.0)]


def test_group_by_with_correlated_subquery(db):
    # the Usage.md genre/track query shape
    db.execute("CREATE TABLE genre (genreid U32, name STRING)")
    db.execute("CREATE TABLE track (trackid U32, genreid U32, ms F64)")
    db.execute("INSERT INTO genre VALUES (1, 'Rock'), (2, 'Jazz')")
    db.execute(
        "INSERT INTO track VALUES (1, 1, 100.0), (2, 1, 200.0), (3, 2, 300.0)"
    )
    # dialect delta: llamadb permits a bare correlated scalar
    # subquery in a grouped SELECT when correlated on the group key;
    # Spark's analyzer requires it inside first() (same semantics —
    # the value is constant within each group).
    rows = db.execute(
        "SELECT first((SELECT genre.name FROM genre "
        "WHERE genre.genreid = track.genreid)) "
        "AS genre, count(*) AS num_tracks, avg(ms) / 1000 AS avg_seconds "
        "FROM track GROUP BY genreid"
    ).collect()
    got = {(r.genre, r.num_tracks, round(r.avg_seconds, 4)) for r in rows}
    assert got == {("Rock", 2, 0.15), ("Jazz", 1, 0.3)}


def test_explain_lisp_shape(db):
    db.execute("CREATE TABLE person2 (id U32, name STRING, age U8)")
    db.execute("INSERT INTO person2 VALUES (1, 'a', 20), (2, 'b', 10)")
    plan = db.explain("EXPLAIN SELECT name, age FROM person2 WHERE age >= 18")
    # llamadb vocabulary: scan / if / yield (Usage.md EXPLAIN)
    assert "(yield" in plan or "(if" in plan
    assert plan.count("(") == plan.count(")")


def test_duplicate_create_rejected(db):
    db.execute("CREATE TABLE dup1 (id U32)")
    with pytest.raises(LlamaError, match="exists"):
        db.execute("CREATE TABLE dup1 (id U32)")


def test_quoted_insert_matches_quoted_create(db):
    # INSERT must unquote identifiers the same way CREATE does
    # (reference lexer: quoted idents are one token either place).
    db.execute('CREATE TABLE "qt" (id U32, name STRING NULL)')
    db.execute('INSERT INTO "qt" ("id", "name") VALUES (1, \'x\')')
    assert db.table("qt").count() == 1


def test_backtick_identifiers_preserve_case(db):
    # Backtick is the reference lexer's quoting form (lexer.rs
    # Backtick state emits the buffer verbatim, case preserved).
    db.execute("CREATE TABLE `CamelTable` (id U32, `Name` STRING)")
    db.execute("INSERT INTO `CamelTable` VALUES (7, 'x')")
    rows = db.execute("SELECT `Name` FROM `CamelTable`").collect()
    assert [r[0] for r in rows] == ["x"]
    assert db.table("CamelTable").columns == ["id", "Name"]


def test_double_quoted_select_means_column_not_literal(db):
    # SELECT "name" must return the column, not the string 'name'
    # (Spark parses "x" as a literal by default; the dialect rewrites
    # double-quoted identifiers to backticks first).
    db.execute("CREATE TABLE qsel (id U32, name STRING)")
    db.execute("INSERT INTO qsel VALUES (1, 'alice')")
    rows = db.execute('SELECT "name" FROM qsel').collect()
    assert [r[0] for r in rows] == ["alice"]


def test_comment_marker_inside_quoted_ident_survives(db):
    # '--' inside a quoted identifier is not a comment start.
    db.execute('CREATE TABLE "a--b" (id U32)')
    db.execute('INSERT INTO "a--b" VALUES (3)')
    assert db.table("a--b").count() == 1


def test_byte_fixed_length_enforced(db):
    # byte[N] rejects wrong-length values (types/mod.rs:96-105
    # is_valid_length, ByteFixed arm).
    db.execute("CREATE TABLE blobs (id U32, tag byte[4])")
    db.execute("INSERT INTO blobs VALUES (1, X'DEADBEEF')")
    assert db.table("blobs").count() == 1
    with pytest.raises(LlamaError, match=r"byte\[4\]"):
        db.execute("INSERT INTO blobs VALUES (2, X'ABCD')")
    with pytest.raises(LlamaError, match=r"byte\[4\]"):
        db.execute("INSERT INTO blobs VALUES (3, X'DEADBEEF00')")


def test_usage_md_transcript_replays(db):
    # The Usage.md example session (Usage.md:84-120) against the
    # bundled Chinook subset: testdata → album/artist join → genre
    # correlated-subquery aggregate → EXPLAIN.
    from llamadb_spark.sql.testdata import load_chinook

    n = load_chinook(db)
    assert n == 10  # 5 CREATEs + 5 INSERTs

    rows = db.execute(
        "SELECT title AS album, name AS artist "
        "FROM album, artist WHERE album.artistid = artist.artistid"
    ).collect()
    assert len(rows) == 7
    pairs = {(r.album, r.artist) for r in rows}
    assert ("For Those About To Rock We Salute You", "AC/DC") in pairs
    assert ("Facelift", "Alice In Chains") in pairs

    # dialect delta (documented): the bare correlated scalar subquery
    # in a grouped SELECT needs first() under Spark's analyzer.
    agg = db.execute(
        "SELECT first((SELECT genre.name FROM genre "
        "WHERE genre.genreid = track.genreid)) AS genre, "
        "count(*) AS num_tracks, avg(milliseconds) / 1000 AS avg_seconds "
        "FROM track GROUP BY genreid"
    ).collect()
    got = {r.genre: r.num_tracks for r in agg}
    assert got == {"Rock": 7, "Alternative & Punk": 1, "Metal": 2}

    plan = db.explain(
        "EXPLAIN SELECT title FROM album WHERE artistid = 1"
    )
    assert plan.count("(") == plan.count(")") and "album" in plan


def test_pretty_select_renders_reference_table_format(db):
    # The CLI's table rendering is prettyselect.rs parity: boxed
    # header, 1-space padding, widths = max(header, widest cell),
    # closing separator + blank line (prettyselect.rs:10-103;
    # Usage.md:99-111 shows the shape). Golden-tested on the Chinook
    # subset's album/artist join, ORDER BY for a stable row order.
    from llamadb_spark.sql.pretty import pretty_select
    from llamadb_spark.sql.testdata import load_chinook

    load_chinook(db)
    out = db.execute(
        "SELECT title AS album, name AS artist "
        "FROM album, artist WHERE album.artistid = artist.artistid "
        "ORDER BY album"
    )
    text, n = pretty_select(out.columns, out.collect())
    assert n == 7
    assert text == (
        "-------------------------------------------------------------\n"
        "| album                                 | artist            |\n"
        "-------------------------------------------------------------\n"
        "| Balls to the Wall                     | Accept            |\n"
        "| Big Ones                              | Aerosmith         |\n"
        "| Facelift                              | Alice In Chains   |\n"
        "| For Those About To Rock We Salute You | AC/DC             |\n"
        "| Jagged Little Pill                    | Alanis Morissette |\n"
        "| Let There Be Rock                     | AC/DC             |\n"
        "| Restless and Wild                     | Accept            |\n"
        "-------------------------------------------------------------\n"
    )

    # zero-row case: boxed header only (prettyselect.rs:54-60)
    empty_text, zero = pretty_select(
        ["a", "bb"], iter(())
    )
    assert zero == 0
    assert empty_text == "-" * 10 + "\n| a | bb |\n" + "-" * 10 + "\n"

    # pagination: each 32-row page re-measures widths and reprints
    # the boxed header (prettyselect.rs:20-50)
    many, cnt = pretty_select(["x"], ([str(i)] for i in range(33)))
    assert cnt == 33
    assert many.count("| x ") == 2  # two pages → two headers

    # NULL / bytes rendering parity with the dialect's literal forms
    from llamadb_spark.sql.pretty import render_value

    assert render_value(None) == "NULL"
    assert render_value(b"\xde\xad") == "X'DEAD'"


# -- UPDATE / DELETE (lexer.rs:10,100-101 reserves both; the
# -- reference parser never implements them — roadmap parity) --------


def _fruit_db(db):
    db.execute("CREATE TABLE fruit (id U32, name STRING, qty I32 NULL)")
    db.execute(
        "INSERT INTO fruit VALUES (1, 'apple', 10), (2, 'pear', NULL), "
        "(3, 'plum', 30)"
    )
    return db


def test_update_where_roundtrip(db):
    _fruit_db(db)
    db.execute("UPDATE fruit SET qty = qty * 2 WHERE name = 'apple'")
    rows = {
        (r.id, r.name, r.qty)
        for r in db.execute("SELECT * FROM fruit").collect()
    }
    assert rows == {(1, "apple", 20), (2, "pear", None), (3, "plum", 30)}


def test_update_without_where_touches_all_rows(db):
    _fruit_db(db)
    db.execute("UPDATE fruit SET name = upper(name)")
    assert {r.name for r in db.execute("SELECT name FROM fruit").collect()} == {
        "APPLE", "PEAR", "PLUM"
    }


def test_update_set_reads_old_row(db):
    # standard UPDATE semantics: every SET expression sees the
    # PRE-update row, so a two-column swap works.
    db.execute("CREATE TABLE p (a I32, b I32)")
    db.execute("INSERT INTO p VALUES (1, 2)")
    db.execute("UPDATE p SET a = b, b = a")
    r = db.execute("SELECT a, b FROM p").collect()[0]
    assert (r.a, r.b) == (2, 1)


def test_update_null_where_keeps_old_value(db):
    # three-valued WHERE: a NULL predicate must NOT update the row
    _fruit_db(db)
    db.execute("UPDATE fruit SET name = 'BIG' WHERE qty > 5")
    rows = {
        (r.id, r.name) for r in db.execute("SELECT id, name FROM fruit").collect()
    }
    assert rows == {(1, "BIG"), (2, "pear"), (3, "BIG")}


def test_update_not_null_violation_rejected(db):
    _fruit_db(db)
    with pytest.raises(LlamaError, match="NOT NULL"):
        db.execute("UPDATE fruit SET name = NULL WHERE id = 1")


def test_update_range_violation_rejected(db):
    db.execute("CREATE TABLE t (v U8)")
    db.execute("INSERT INTO t VALUES (250)")
    with pytest.raises(LlamaError):
        db.execute("UPDATE t SET v = v + 100")


def test_update_unknown_column_rejected(db):
    _fruit_db(db)
    with pytest.raises(LlamaError, match="no such column"):
        db.execute("UPDATE fruit SET nope = 1")


def test_delete_where_roundtrip(db):
    _fruit_db(db)
    db.execute("DELETE FROM fruit WHERE qty >= 30")
    assert {r.id for r in db.execute("SELECT id FROM fruit").collect()} == {1, 2}


def test_delete_null_predicate_keeps_row(db):
    # row 2 has qty NULL: `qty < 100` is NULL there, so DELETE must
    # keep it (only TRUE deletes)
    _fruit_db(db)
    db.execute("DELETE FROM fruit WHERE qty < 100")
    assert {r.id for r in db.execute("SELECT id FROM fruit").collect()} == {2}


def test_delete_without_where_empties_table(db):
    _fruit_db(db)
    db.execute("DELETE FROM fruit")
    assert db.execute("SELECT count(*) AS n FROM fruit").collect()[0].n == 0
    # schema survives for later inserts
    db.execute("INSERT INTO fruit VALUES (9, 'fig', 1)")
    assert db.execute("SELECT count(*) AS n FROM fruit").collect()[0].n == 1


def test_update_quoted_identifiers(db):
    db.execute('CREATE TABLE q ("Id" I32, "Name" STRING)')
    db.execute('INSERT INTO q VALUES (1, \'x\')')
    db.execute('UPDATE q SET "Name" = \'y\' WHERE "Id" = 1')
    assert db.execute('SELECT "Name" FROM q').collect()[0][0] == "y"


def test_explain_update_delete_render_plans(db):
    _fruit_db(db)
    up = db.explain("EXPLAIN UPDATE fruit SET qty = 1 WHERE id = 2")
    de = db.explain("EXPLAIN DELETE FROM fruit WHERE id = 2")
    assert up.startswith("(") and "yield" in up.lower()
    assert de.startswith("(")
    # explain must not commit: table unchanged
    rows = {
        (r.id, r.qty) for r in db.execute("SELECT id, qty FROM fruit").collect()
    }
    assert rows == {(1, 10), (2, None), (3, 30)}


def test_create_index_results_unchanged_and_scan_backed(db):
    """CREATE INDEX clusters the table into a range-sorted parquet
    layout: query results are unchanged, the table's reads become a
    parquet scan, and a range filter on the indexed column reaches
    the scan as a pushed filter."""
    _fruit_db(db)
    before = {(r.id, r.name, r.qty) for r in db.execute("SELECT * FROM fruit").collect()}
    db.execute("CREATE INDEX fruit_id ON fruit (id)")
    after = {(r.id, r.name, r.qty) for r in db.execute("SELECT * FROM fruit").collect()}
    assert after == before
    plan = (
        db.execute("SELECT name FROM fruit WHERE id >= 2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FileScan parquet" in plan
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(id,2" in plan


def test_create_index_maintained_across_commits(db):
    """INSERT/UPDATE/DELETE on an indexed table re-cluster on write;
    results stay correct and reads stay scan-backed."""
    _fruit_db(db)
    db.execute("CREATE INDEX fruit_id ON fruit (id)")
    db.execute("INSERT INTO fruit VALUES (4, 'fig', 40)")
    db.execute("UPDATE fruit SET qty = 99 WHERE id = 1")
    db.execute("DELETE FROM fruit WHERE id = 3")
    rows = {(r.id, r.name, r.qty) for r in db.execute("SELECT * FROM fruit").collect()}
    assert rows == {(1, "apple", 99), (2, "pear", None), (4, "fig", 40)}
    plan = (
        db.execute("SELECT * FROM fruit")._jdf.queryExecution().executedPlan().toString()
    )
    assert "FileScan parquet" in plan


def test_create_index_errors(db):
    import pytest

    from llamadb_spark.sql.dialect import LlamaError

    _fruit_db(db)
    with pytest.raises(LlamaError, match="no such table"):
        db.execute("CREATE INDEX i ON missing (id)")
    with pytest.raises(LlamaError, match="no such column"):
        db.execute("CREATE INDEX i ON fruit (nope)")
    db.execute("CREATE INDEX i ON fruit (id)")
    with pytest.raises(LlamaError, match="index exists"):
        db.execute("CREATE INDEX i ON fruit (name)")


def test_check_constraint_three_valued(db):
    """CHECK fails only when the expression is FALSE — a NULL
    evaluation passes (SQL three-valued semantics)."""
    db.execute(
        "CREATE TABLE acct (id U32, bal I32 NULL, "
        "CONSTRAINT bal_nonneg CHECK (bal >= 0))"
    )
    db.execute("INSERT INTO acct VALUES (1, 10), (2, NULL)")  # NULL passes
    import pytest

    from llamadb_spark.sql.dialect import LlamaError

    with pytest.raises(LlamaError, match="CHECK constraint violated: bal_nonneg"):
        db.execute("INSERT INTO acct VALUES (3, -5)")
    # failed insert rolled back: table unchanged
    assert db.execute("SELECT count(*) AS n FROM acct").collect()[0].n == 2
    with pytest.raises(LlamaError, match="bal_nonneg"):
        db.execute("UPDATE acct SET bal = -1 WHERE id = 1")


def test_unique_and_primary_key(db):
    import pytest

    from llamadb_spark.sql.dialect import LlamaError

    db.execute(
        "CREATE TABLE u (id U32 PRIMARY KEY, email STRING UNIQUE, nick STRING NULL)"
    )
    db.execute("INSERT INTO u VALUES (1, 'a@x', 'a'), (2, 'b@x', 'b')")
    with pytest.raises(LlamaError, match="UNIQUE"):
        db.execute("INSERT INTO u VALUES (3, 'a@x', 'c')")  # dup email
    with pytest.raises(LlamaError, match="UNIQUE"):
        db.execute("INSERT INTO u VALUES (1, 'c@x', 'd')")  # dup pk
    with pytest.raises(LlamaError, match="NOT NULL"):
        db.execute("INSERT INTO u VALUES (NULL, 'd@x', 'e')")  # pk => not null
    db.execute("INSERT INTO u VALUES (3, 'c@x', 'b')")  # non-unique nick ok
    assert db.execute("SELECT count(*) AS n FROM u").collect()[0].n == 3


def test_composite_unique_table_level(db):
    import pytest

    from llamadb_spark.sql.dialect import LlamaError

    db.execute(
        "CREATE TABLE pairs2 (a U32, b U32, UNIQUE (a, b))"
    )
    db.execute("INSERT INTO pairs2 VALUES (1, 1), (1, 2), (2, 1)")
    with pytest.raises(LlamaError, match="UNIQUE"):
        db.execute("INSERT INTO pairs2 VALUES (1, 2)")


def test_foreign_key_reference(db):
    import pytest

    from llamadb_spark.sql.dialect import LlamaError

    db.execute("CREATE TABLE genre (gid U32 PRIMARY KEY, name STRING)")
    db.execute("INSERT INTO genre VALUES (1, 'rock'), (2, 'jazz')")
    db.execute(
        "CREATE TABLE album (aid U32 PRIMARY KEY, gid U32 NULL REFERENCES genre (gid))"
    )
    db.execute("INSERT INTO album VALUES (10, 1), (11, NULL)")  # NULL FK passes
    with pytest.raises(LlamaError, match="FOREIGN KEY"):
        db.execute("INSERT INTO album VALUES (12, 9)")  # orphan
    # FK re-validated on UPDATE too
    with pytest.raises(LlamaError, match="FOREIGN KEY"):
        db.execute("UPDATE album SET gid = 7 WHERE aid = 10")
    # unknown reference target rejected at CREATE time
    with pytest.raises(LlamaError, match="no such table"):
        db.execute("CREATE TABLE bad (x U32 REFERENCES missing (y))")


# -- prepared statements (lexer.rs:67 reserves `?`, parser never
# -- consumes it — same roadmap-parity class as UPDATE/DELETE/INDEX)


def test_prepare_select_positional_binding(db):
    db.execute("CREATE TABLE song (sid U32, title STRING, plays U32)")
    db.execute(
        "INSERT INTO song VALUES (1, 'alpha', 10), (2, 'beta', 99), (3, 'gamma', 5)"
    )
    db.table("song").createOrReplaceTempView("song")
    stmt = db.prepare("SELECT title FROM song WHERE plays > ? AND sid <> ?")
    assert stmt.n_params == 2
    assert {r.title for r in stmt.execute(7, 1).collect()} == {"beta"}
    # the same prepared object re-executes with new parameters
    assert {r.title for r in stmt.execute(0, 2).collect()} == {"alpha", "gamma"}


def test_prepare_insert_update_delete(db):
    db.execute("CREATE TABLE kv (k STRING, v U32 NULL)")
    ins = db.prepare("INSERT INTO kv VALUES (?, ?)")
    ins.execute("a", 1)
    ins.execute("it''s", None)  # embedded quote + NULL bind
    assert db.table("kv").count() == 2
    db.prepare("UPDATE kv SET v = ? WHERE k = ?").execute(42, "a")
    rows = {r.k: r.v for r in db.table("kv").collect()}
    assert rows["a"] == 42 and rows["it''s"] is None
    db.prepare("DELETE FROM kv WHERE k = ?").execute("a")
    assert db.table("kv").count() == 1


def test_prepare_param_count_and_quoted_question_mark(db):
    db.execute("CREATE TABLE q (s STRING)")
    db.execute("INSERT INTO q VALUES ('why?'), ('because')")
    db.table("q").createOrReplaceTempView("q")
    # '?' inside a string literal is data, not a marker
    stmt = db.prepare("SELECT s FROM q WHERE s = 'why?'")
    assert stmt.n_params == 0
    assert stmt.execute().count() == 1
    with pytest.raises(LlamaError, match="expected 1 parameters, got 2"):
        db.prepare("SELECT s FROM q WHERE s = ?").execute("a", "b")
    with pytest.raises(LlamaError, match="cannot prepare"):
        db.prepare("CREATE TABLE nope (x U8)")


def test_prepare_binds_bytes_as_hex_literal(db):
    db.execute("CREATE TABLE blob (tag STRING, payload byte[4])")
    db.prepare("INSERT INTO blob VALUES (?, ?)").execute("t1", b"\x01\x02\x03\x04")
    row = db.table("blob").collect()[0]
    assert bytes(row.payload) == b"\x01\x02\x03\x04"


def test_update_delete_between_in_isnull_predicates(db):
    """The remaining reserved predicate keywords (lexer.rs:112-116:
    BETWEEN / IN / IS / NOT / NULL) work inside write-statement WHERE
    clauses — F.expr hands them to Spark's full expression parser."""
    db.execute("CREATE TABLE score (sid U32, pts U32 NULL, tag STRING)")
    db.execute(
        "INSERT INTO score VALUES (1, 5, 'a'), (2, 15, 'b'), "
        "(3, 25, 'c'), (4, NULL, 'd')"
    )
    db.execute("UPDATE score SET tag = 'mid' WHERE pts BETWEEN 10 AND 20")
    rows = {r.sid: r.tag for r in db.table("score").collect()}
    assert rows == {1: "a", 2: "mid", 3: "c", 4: "d"}
    db.execute("UPDATE score SET pts = 0 WHERE pts IS NULL")
    assert {r.sid: r.pts for r in db.table("score").collect()}[4] == 0
    db.execute("DELETE FROM score WHERE sid IN (1, 3)")
    assert sorted(r.sid for r in db.table("score").collect()) == [2, 4]
    db.execute("DELETE FROM score WHERE tag IS NOT NULL")
    assert db.table("score").count() == 0


# -- recursive CTEs (Spark's parser refuses WITH RECURSIVE; the
# -- dialect executes it via iterative frontier materialization)


def test_recursive_cte_series(db):
    rows = db.execute(
        "WITH RECURSIVE t(n) AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM t WHERE n < 10) "
        "SELECT count(*) AS c, sum(n) AS s FROM t"
    ).collect()
    assert rows[0].c == 10 and rows[0].s == 55


def test_recursive_cte_union_terminates_on_cycle(db):
    db.execute("CREATE TABLE edge (src U32, dst U32)")
    # a 3-cycle plus a tail: 1->2->3->1, 3->4
    db.execute("INSERT INTO edge VALUES (1,2),(2,3),(3,1),(3,4)")
    rows = db.execute(
        "WITH RECURSIVE reach(node) AS ("
        "  SELECT 1 AS node"
        "  UNION"
        "  SELECT e.dst FROM reach r, edge e WHERE e.src = r.node"
        ") SELECT node FROM reach"
    ).collect()
    # UNION dedup makes the cycle converge; all 4 nodes reachable
    assert sorted(r.node for r in rows) == [1, 2, 3, 4]


@pytest.mark.parametrize("union", ["UNION", "UNION ALL"])
@pytest.mark.parametrize(
    "write",
    [None, "UPDATE chain SET v = v WHERE u = 1"],
    ids=["after-insert", "after-update"],
)
def test_recursive_cte_over_dialect_table(db, union, write):
    """The frontiers and the accumulated result stage under fresh
    attributes, so a UNION over a recursive step that reads a dialect
    table (a checkpointed view, here with a same-name alias of a
    view-qualified column) analyses without "key not found"."""
    db.execute("CREATE TABLE chain (u I64, v I64)")
    db.execute("INSERT INTO chain VALUES (0, 1), (1, 2), (2, 3)")
    if write:
        db.execute(write)
    rows = db.execute(
        "WITH RECURSIVE reach(v) AS (SELECT v FROM chain WHERE u = 0 "
        f"{union} SELECT chain.v AS v FROM reach r JOIN chain ON chain.u = r.v) "
        "SELECT v FROM reach ORDER BY v"
    ).collect()
    assert [r.v for r in rows] == [1, 2, 3]


def test_recursive_cte_nonconvergence_guarded(db):
    import pytest

    from llamadb_spark.sql.dialect import LlamaError, recursive_sql

    with pytest.raises(LlamaError, match="did not converge"):
        recursive_sql(
            db.spark,
            "WITH RECURSIVE t(n) AS (SELECT 1 AS n UNION ALL "
            "SELECT n FROM t) SELECT * FROM t",
            max_iter=5,
        )


def test_recursive_cte_restores_shadowed_table(db):
    db.execute("CREATE TABLE months (v U32)")
    db.execute("INSERT INTO months VALUES (42)")
    got = db.execute(
        "WITH RECURSIVE months(m) AS (SELECT 1 AS m UNION ALL "
        "SELECT m + 1 FROM months WHERE m < 3) "
        "SELECT sum(m) AS s FROM months"
    ).collect()
    assert got[0].s == 6  # the CTE, not the table
    # the session table view is restored afterwards
    assert db.execute("SELECT v FROM months").collect()[0].v == 42


def test_plain_with_cte_through_session(db):
    db.execute("CREATE TABLE nums (n U32)")
    db.execute("INSERT INTO nums VALUES (1), (2), (3)")
    rows = db.execute(
        "WITH doubled AS (SELECT n * 2 AS d FROM nums) "
        "SELECT sum(d) AS s FROM doubled"
    ).collect()
    assert rows[0].s == 12


def test_explain_recursive_cte_renders_without_executing(db):
    db.execute("CREATE TABLE base_t (n U32)")
    db.execute("INSERT INTO base_t VALUES (1)")
    plan = db.explain(
        "EXPLAIN WITH RECURSIVE t(n) AS (SELECT n FROM base_t UNION ALL "
        "SELECT n + 1 FROM t WHERE n < 1000000) SELECT count(*) AS c FROM t"
    )
    assert "(recursive-cte t :union-all" in plan
    assert "(base " in plan and "(step " in plan and "(final " in plan
    # table view restored after planning
    assert db.execute("SELECT n FROM base_t").collect()[0].n == 1


# -- CTAS + DROP TABLE (SQL-surface completion for managed tables)


def test_ctas_snapshot_and_reuse(db):
    db.execute("CREATE TABLE src (k U32, v U32 NULL)")
    db.execute("INSERT INTO src VALUES (1, 10), (2, NULL), (3, 30)")
    db.execute("CREATE TABLE snap AS SELECT k, v * 2 AS v2 FROM src WHERE k <> 2")
    rows = {r.k: r.v2 for r in db.table("snap").collect()}
    assert rows == {1: 20, 3: 60}
    # CTAS table is a full citizen: INSERT and UPDATE work
    db.execute("INSERT INTO snap VALUES (9, 90)")
    db.execute("UPDATE snap SET v2 = 0 WHERE k = 1")
    assert {r.k: r.v2 for r in db.table("snap").collect()} == {1: 0, 3: 60, 9: 90}
    with pytest.raises(LlamaError, match="table exists"):
        db.execute("CREATE TABLE snap AS SELECT 1 AS one")


def test_ctas_from_recursive_cte(db):
    db.execute(
        "CREATE TABLE series AS WITH RECURSIVE t(n) AS (SELECT 1 AS n "
        "UNION ALL SELECT n + 1 FROM t WHERE n < 5) SELECT n FROM t"
    )
    assert sorted(r.n for r in db.table("series").collect()) == [1, 2, 3, 4, 5]


def test_drop_table_semantics(db):
    db.execute("CREATE TABLE gone (x U32)")
    db.execute("INSERT INTO gone VALUES (1)")
    db.execute("DROP TABLE gone")
    with pytest.raises(LlamaError, match="no such table"):
        db.execute("INSERT INTO gone VALUES (2)")
    # idempotent with IF EXISTS; strict without
    db.execute("DROP TABLE IF EXISTS gone")
    with pytest.raises(LlamaError, match="no such table"):
        db.execute("DROP TABLE gone")
    # FK-referenced tables are protected
    db.execute("CREATE TABLE parent (pid U32 PRIMARY KEY)")
    db.execute("CREATE TABLE child (cid U32, pid U32 NULL REFERENCES parent (pid))")
    with pytest.raises(LlamaError, match="referenced by FOREIGN KEY"):
        db.execute("DROP TABLE parent")
    db.execute("DROP TABLE child")
    db.execute("DROP TABLE parent")  # now droppable


def test_full_dialect_script_integration(db):
    """One execute_script exercising the session surface end-to-end:
    DDL + constraints + CTAS + writes + recursive CTE + DROP — the
    transcript a migrating user would actually run."""
    n = db.execute_script(
        """
        -- inventory of products with a category lookup
        CREATE TABLE category (cid U32 PRIMARY KEY, cname STRING);
        INSERT INTO category VALUES (1, 'tool'), (2, 'toy');
        CREATE TABLE product (
            pid U32 PRIMARY KEY,
            cid U32 REFERENCES category (cid),
            price U32 CHECK (price > 0)
        );
        INSERT INTO product VALUES (10, 1, 500), (11, 1, 30), (12, 2, 80);
        UPDATE product SET price = price + 20 WHERE cid = 2;
        DELETE FROM product WHERE price < 60;
        CREATE TABLE pricey AS
            SELECT p.pid, c.cname, p.price
            FROM product p, category c WHERE p.cid = c.cid;
        DROP TABLE IF EXISTS scratch;
        """
    )
    assert n == 8
    rows = {r.pid: (r.cname, r.price) for r in db.table("pricey").collect()}
    assert rows == {10: ("tool", 500), 12: ("toy", 100)}
    # prepared statement over the CTAS result
    stmt = db.prepare("SELECT pid FROM pricey WHERE price > ?")
    db.table("pricey").createOrReplaceTempView("pricey")
    assert {r.pid for r in stmt.execute(200).collect()} == {10}
    # recursive CTE joining a session table
    got = db.execute(
        "WITH RECURSIVE r(n) AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM r WHERE n < 3) "
        "SELECT count(*) AS c FROM r, pricey"
    ).collect()
    assert got[0].c == 3 * 2


def test_explain_search_note_on_indexed_scan(db):
    """EXPLAIN renders the reference planner's (search …) op (docs/
    Query Planner.md) when — and only when — a filter is actually
    served by the clustered-index layout's pushed filters."""
    db.execute("CREATE TABLE metric (mid U32, reading U32)")
    db.execute(
        "INSERT INTO metric VALUES (1, 10), (2, 20), (3, 30), (4, 40)"
    )
    db.execute("CREATE INDEX ireading ON metric (reading)")
    plan = db.explain("EXPLAIN SELECT mid FROM metric WHERE reading >= 25")
    assert "(search `metric` ireading reading)" in plan
    assert "PushedFilters" in plan
    # no range predicate on the indexed column -> no search note
    plain = db.explain("EXPLAIN SELECT mid FROM metric")
    assert "(search" not in plain


# -- MERGE INTO (upsert verb completing the DML family; the reference
# -- AST stops at INSERT — ast.rs:179-184) ---------------------------


def _merge_db(db):
    db.execute("CREATE TABLE inv (id U32, qty I32, price F64)")
    db.execute(
        "INSERT INTO inv VALUES (1, 10, 2.5), (2, 5, 1.0), (3, 7, 4.0)"
    )
    db.execute("CREATE TABLE delta (id U32, qty I32, price F64)")
    db.execute(
        "INSERT INTO delta VALUES (2, 3, 1.5), (4, 9, 8.0)"
    )
    return db


def test_merge_upsert_update_and_insert(db):
    _merge_db(db)
    db.execute(
        "MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty, "
        "price = s.price "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
        "VALUES (s.id, s.qty, s.price)"
    )
    got = {
        r.id: (r.qty, r.price)
        for r in db.execute("SELECT id, qty, price FROM inv").collect()
    }
    assert got == {
        1: (10, 2.5),    # untouched
        2: (8, 1.5),     # matched: qty summed, price replaced
        3: (7, 4.0),     # untouched
        4: (9, 8.0),     # inserted
    }


def test_merge_matched_delete(db):
    _merge_db(db)
    db.execute("MERGE INTO inv USING delta ON t.id = s.id "
               "WHEN MATCHED THEN DELETE")
    ids = sorted(r.id for r in db.execute("SELECT id FROM inv").collect())
    assert ids == [1, 3]


def test_merge_insert_only(db):
    _merge_db(db)
    db.execute(
        "MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
        "VALUES (s.id, s.qty * 2, s.price)"
    )
    got = {
        r.id: r.qty for r in db.execute("SELECT id, qty FROM inv").collect()
    }
    assert got == {1: 10, 2: 5, 3: 7, 4: 18}


@pytest.mark.parametrize(
    "matched", ["UPDATE SET qty = s.qty", "DELETE"], ids=["update", "delete"]
)
def test_merge_cardinality_violation_raises(db, matched):
    _merge_db(db)
    db.execute("INSERT INTO delta VALUES (2, 100, 9.9)")  # second match
    with pytest.raises(LlamaError, match="cardinality"):
        db.execute(
            f"MERGE INTO inv USING delta ON t.id = s.id WHEN MATCHED THEN {matched}"
        )
    # failed MERGE left the target untouched (rollback contract)
    got = {r.id: r.qty for r in db.execute("SELECT id, qty FROM inv").collect()}
    assert got == {1: 10, 2: 5, 3: 7}


@pytest.mark.parametrize(
    "emptied",
    [
        [],
        ["INSERT INTO inv VALUES (9, 1, 1.0)", "DELETE FROM inv"],
        ["INSERT INTO inv VALUES (9, 1, 1.0)", "DELETE FROM inv WHERE id = 9"],
    ],
    ids=["fresh", "delete-all", "delete-every-row"],
)
@pytest.mark.parametrize(
    "matched", ["UPDATE SET qty = s.qty", "DELETE"], ids=["update", "delete"]
)
@pytest.mark.parametrize("source", ["view", "table"])
def test_merge_with_matched_arm_into_empty_table_inserts(
    db, spark, emptied, matched, source
):
    """A WHEN MATCHED arm over an empty target: AQE can drop the join
    and with it the target's observed row count, which must then read
    as 0 rows (no match, no cardinality violation) so every source row
    inserts. A Spark temp-view source is the shape that drops it."""
    db.execute("CREATE TABLE inv (id U32, qty I32, price F64)")
    delta = [(2, 3, 1.5), (4, 9, 8.0)]
    if source == "view":
        src = spark.createDataFrame(delta, "id int, qty int, price double")
        src.createOrReplaceTempView("empty_merge_src")
    else:
        db.execute("CREATE TABLE empty_merge_src (id U32, qty I32, price F64)")
        db.execute("INSERT INTO empty_merge_src VALUES (2, 3, 1.5), (4, 9, 8.0)")
    for sql in emptied:
        db.execute(sql)
    db.execute(
        f"MERGE INTO inv USING empty_merge_src ON t.id = s.id "
        f"WHEN MATCHED THEN {matched} "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
        "VALUES (s.id, s.qty, s.price)"
    )
    got = sorted(tuple(r) for r in db.execute("SELECT * FROM inv").collect())
    assert got == delta


def test_merge_duplicate_source_key_without_match_inserts_both(db):
    """Cardinality counts target rows: a source key that appears twice
    but matches no target row is no violation, and WHEN NOT MATCHED
    inserts both source rows."""
    _merge_db(db)
    db.execute("INSERT INTO delta VALUES (4, 1, 0.5)")  # id 4 twice, no target
    db.execute(
        "MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
        "VALUES (s.id, s.qty, s.price)"
    )
    got = sorted(
        (r.id, r.qty) for r in db.execute("SELECT id, qty FROM inv").collect()
    )
    assert got == [(1, 10), (2, 8), (3, 7), (4, 1), (4, 9)]


def test_merge_validation_rolls_back(db):
    import pytest

    _merge_db(db)
    # qty is implicitly NOT NULL: a NULL-producing update must fail
    # and leave the table untouched
    with pytest.raises(LlamaError):
        db.execute(
            "MERGE INTO inv USING delta ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET qty = NULL"
        )
    got = {r.id: r.qty for r in db.execute("SELECT id, qty FROM inv").collect()}
    assert got == {1: 10, 2: 5, 3: 7}


def test_merge_explain_renders_without_committing(db):
    _merge_db(db)
    plan = db.explain(
        "EXPLAIN MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty"
    )
    assert plan.count("(") == plan.count(")") and "join" in plan
    got = {r.id: r.qty for r in db.execute("SELECT id, qty FROM inv").collect()}
    assert got == {1: 10, 2: 5, 3: 7}  # explain committed nothing


def test_prepare_merge_with_parameters(db):
    _merge_db(db)
    stmt = db.prepare(
        "MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = t.qty + ? "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
        "VALUES (s.id, ?, s.price)"
    )
    assert stmt.n_params == 2
    stmt.execute(100, 1)
    got = {
        r.id: r.qty for r in db.execute("SELECT id, qty FROM inv").collect()
    }
    # matched row 2 gets +100; unmatched row 4 inserts with qty=1
    assert got == {1: 10, 2: 105, 3: 7, 4: 1}


def test_merge_insert_only_multi_match_ok(db):
    """Insert-only MERGE (no WHEN MATCHED clause) is exempt from the
    cardinality check — standard/Delta semantics only raise when a
    matched clause exists. A target row matching several source rows
    must not fail; unmatched source rows insert exactly once."""
    _merge_db(db)
    db.execute("INSERT INTO delta VALUES (2, 100, 9.9)")  # 2nd match on id=2
    db.execute(
        "MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
        "VALUES (s.id, s.qty, s.price)"
    )
    got = sorted(
        (r.id, r.qty) for r in db.execute("SELECT id, qty FROM inv").collect()
    )
    assert got == [(1, 10), (2, 5), (3, 7), (4, 9)]  # id 2 passes through once


def test_connect_entry_point_no_module_shadow(spark):
    """llamadb_spark.connect() returns a LlamaSession over the given
    SparkSession, and the llamadb_spark.session SUBMODULE remains
    importable/addressable (the old session() name shadowed it)."""
    import llamadb_spark
    from llamadb_spark.sql import LlamaSession

    db = llamadb_spark.connect(spark)
    assert isinstance(db, LlamaSession)
    db.execute("CREATE TABLE conn_t (a INT)")
    db.execute("INSERT INTO conn_t VALUES (7)")
    assert db.execute("SELECT a FROM conn_t").collect()[0].a == 7

    # the submodule is reachable as an attribute and via import
    import llamadb_spark.session as sess_mod

    assert hasattr(sess_mod, "get_spark")
    assert hasattr(llamadb_spark.session, "get_spark")


# -- r11: delta-segment inserts and durable commits ---------------------


def test_delta_inserts_compact_and_stay_correct(db):
    """N small INSERTs append checkpointed delta segments; past
    _MAX_SEGMENTS the chain compacts. Contents and constraint
    enforcement must be identical throughout."""
    db.execute("CREATE TABLE seg_t (k U32 PRIMARY KEY, v STRING)")
    n = db._MAX_SEGMENTS + 3  # forces at least one compaction
    for i in range(n):
        db.execute(f"INSERT INTO seg_t VALUES ({i}, 'r{i}')")
    rows = {(r.k, r.v) for r in db.execute("SELECT k, v FROM seg_t").collect()}
    assert rows == {(i, f"r{i}") for i in range(n)}
    assert db._segments["seg_t"] <= db._MAX_SEGMENTS
    # PK violation must still see OLD+NEW across segments
    with pytest.raises(LlamaError):
        db.execute("INSERT INTO seg_t VALUES (0, 'dup')")
    assert db.execute("SELECT count(*) AS n FROM seg_t").collect()[0].n == n


def test_delta_insert_failed_validation_leaves_table(db):
    db.execute("CREATE TABLE seg_v (k U8, v STRING)")
    db.execute("INSERT INTO seg_v VALUES (1, 'a')")
    with pytest.raises(LlamaError):
        db.execute("INSERT INTO seg_v VALUES (999, 'overflow')")  # U8 max 255
    rows = db.execute("SELECT k, v FROM seg_v").collect()
    assert [(r.k, r.v) for r in rows] == [(1, "a")]


def test_durable_commit_parquet_backed(spark):
    """durable=True re-points committed tables at a parquet scan so a
    lost executor cannot strand the only copy (VERDICT r10 #1)."""
    db = LlamaSession(spark, durable=True)
    db.execute("CREATE TABLE dur_t (k U32 PRIMARY KEY, v STRING)")
    db.execute("INSERT INTO dur_t VALUES (1, 'a'), (2, 'b')")
    db.execute("UPDATE dur_t SET v = 'z' WHERE k = 2")
    plan = db.table("dur_t")._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    rows = {(r.k, r.v) for r in db.execute("SELECT k, v FROM dur_t").collect()}
    assert rows == {(1, "a"), (2, "z")}
    # MERGE through the durable path too
    spark.sql("SELECT 3 AS k, 'c' AS v").createOrReplaceTempView("dur_src")
    db.execute(
        "MERGE INTO dur_t USING dur_src ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
    )
    assert db.execute("SELECT count(*) AS n FROM dur_t").collect()[0].n == 3


def test_commit_directories_share_one_root_removed_at_exit(tmp_path):
    """Parquet-backed commits (a durable table, an indexed table) each
    write a fresh directory, all under the session's one root, which
    the interpreter removes at exit: 5 INSERTs into each leave one
    directory in the temp dir while the process lives, none after."""
    import json
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {repo!r})
        from llamadb_spark.session import get_spark
        from llamadb_spark.sql import LlamaSession

        db = LlamaSession(get_spark("commit-root", cpus=1), durable=True)
        db.execute("CREATE TABLE du (k U32 PRIMARY KEY, v STRING)")
        db.execute("CREATE TABLE ix (k U32 PRIMARY KEY, v STRING)")
        db.execute("CREATE INDEX ix_k ON ix (k)")
        for i in range(5):
            for t in ("du", "ix"):
                db.execute(f"INSERT INTO {{t}} VALUES ({{i}}, 'x')")
        assert db.execute("SELECT count(*) AS n FROM ix").collect()[0].n == 5
        tmp = {str(tmp_path)!r}
        live = [d for d in os.listdir(tmp) if d.startswith("llamadb_")]
        print("LIVE", json.dumps({{d: len(os.listdir(os.path.join(tmp, d)))
                                  for d in live}}))
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    (live,) = [
        json.loads(line[5:])
        for line in out.stdout.splitlines()
        if line.startswith("LIVE ")
    ]
    # one root holding the 10 commit directories
    assert list(live.values()) == [10], live
    assert not [d for d in os.listdir(tmp_path) if d.startswith("llamadb_")]


# -- one Spark job per write -------------------------------------------


def _spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"dialect-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_writes_run_one_spark_job(db, spark):
    """The staging job of a write also observes its row checks (NOT
    NULL, integer width, byte[N], CHECK): without UNIQUE or FOREIGN
    KEY, an INSERT...VALUES, an UPDATE and a DELETE each run one job."""
    db.execute(
        "CREATE TABLE one_job (id U32, tag byte[2] NULL, note STRING NULL, "
        "CHECK (id < 1000))"
    )
    db.execute("INSERT INTO one_job VALUES (1, X'0102', 'a')")
    for sql in (
        "INSERT INTO one_job VALUES (2, X'0304', NULL), (3, NULL, 'c')",
        "UPDATE one_job SET note = 'u' WHERE id >= 2",
        "DELETE FROM one_job WHERE id = 1",
    ):
        assert _spark_jobs(spark, lambda: db.execute(sql)) == 1, sql
    rows = sorted(tuple(r) for r in db.execute("SELECT id, note FROM one_job").collect())
    assert rows == [(2, "u"), (3, "u")]


#: Spark jobs of an upsert MERGE into a 3-row table: the one commit
#: job. Its one join of one-partition tables is planned without a
#: shuffle stage of its own (the LEFT + LEFT ANTI shape it replaced
#: ran 3; the cardinality pre-pass before that, 10 more).
MERGE_JOBS = 1

_UPSERT = (
    "MERGE INTO inv USING {src} ON t.id = s.id "
    "WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty "
    "WHEN NOT MATCHED THEN INSERT (id, qty, price) "
    "VALUES (s.id, s.qty, s.price)"
)


def test_merge_job_count_pinned(db, spark):
    """MERGE's cardinality check is two observed counts in the commit
    job, not a join+groupBy pre-pass of its own, and the commit reads
    its source once: one join, no second (anti) join for the inserts."""
    _merge_db(db)
    n = _spark_jobs(spark, lambda: db.execute(_UPSERT.format(src="delta")))
    assert n == MERGE_JOBS
    spark.range(2, 5).selectExpr(
        "CAST(id AS INT) AS id", "CAST(id * 2 AS INT) AS qty", "1.0D AS price"
    ).createOrReplaceTempView("merge_range_src")
    _, rows, _ = db._merge_df(_UPSERT.format(src="merge_range_src"))
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (") == 1, plan


def test_merge_insert_arm_resolves_against_the_source(db):
    """Unqualified names in the INSERT arm are source columns, even
    where the target has a column of the same name."""
    _merge_db(db)
    db.execute(
        "MERGE INTO inv USING delta ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty "
        "WHEN NOT MATCHED THEN INSERT (id, qty, price) VALUES (id, qty * 2, price)"
    )
    got = sorted(tuple(r) for r in db.execute("SELECT * FROM inv").collect())
    assert got == [(1, 10, 2.5), (2, 8, 1.0), (3, 7, 4.0), (4, 18, 8.0)]


def _partitions(db, name: str) -> int:
    return db.table(name).rdd.getNumPartitions()


def test_dialect_tables_sized_to_their_bytes(db, spark):
    """A committed table has one partition per maxPartitionBytes of its
    rows, whatever its input's layout: 800 rows are one partition
    after compaction and after an UPDATE, a DELETE and a MERGE (each
    100-row VALUES insert is parallelized over the session's cores)."""
    db.execute("CREATE TABLE acct (id U32, owner STRING, balance F64)")
    for b in range(8):  # the 8th INSERT compacts the delta segments
        rows = range(b * 100, b * 100 + 100)
        vals = ", ".join(f"({i}, 'u{i % 7}', {i}.5)" for i in rows)
        db.execute(f"INSERT INTO acct VALUES {vals}")
    assert db._segments["acct"] == 1  # compacted
    assert _partitions(db, "acct") == 1
    spark.createDataFrame(
        [(5, 1.0), (9_000, 2.0)], "id int, amount double"
    ).createOrReplaceTempView("acct_deposits")
    for sql in (
        "UPDATE acct SET balance = balance + 1 WHERE id < 400",
        "DELETE FROM acct WHERE id >= 700",
        "MERGE INTO acct USING acct_deposits ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET balance = t.balance + s.amount "
        "WHEN NOT MATCHED THEN INSERT (id, owner, balance) "
        "VALUES (s.id, 'merged', s.amount)",
    ):
        db.execute(sql)
        assert _partitions(db, "acct") == 1, sql
    assert db.execute("SELECT count(*) AS n FROM acct").collect()[0].n == 701


@pytest.fixture()
def small_splits(spark):
    """spark.sql.files.maxPartitionBytes at 4 KB; restored afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4k")
    yield
    spark.conf.set(key, saved)


def test_dialect_table_size_follows_max_partition_bytes(db, spark, small_splits):
    """The split size is the session's maxPartitionBytes: 800 rows of
    Spark's 36-byte width estimate (U32 is a BIGINT: 8, STRING 20,
    DOUBLE 8) are 28 800 bytes, 8 partitions of 4 KB, coalesced from
    the 16 the INSERT...SELECT reads."""
    spark.range(0, 800, 1, 16).createOrReplaceTempView("acct_src")
    db.execute("CREATE TABLE acct (id U32, owner STRING, balance F64)")
    db.execute(
        "INSERT INTO acct SELECT id, concat('u', id % 7), id + 0.5 FROM acct_src"
    )
    assert _partitions(db, "acct") == 8
    rows = db.execute("SELECT count(*) AS n, sum(id) AS s FROM acct").collect()[0]
    assert (rows.n, rows.s) == (800, sum(range(800)))


def _plan(db, name: str) -> str:
    return db.table(name)._jdf.queryExecution().optimizedPlan().toString()


def test_fresh_table_is_an_empty_local_relation(db):
    """CREATE TABLE's empty contents fold to an empty LocalRelation: no
    Python-RDD scan (LogicalRDD) for readers to run tasks over."""
    db.execute("CREATE TABLE fresh_t (id U32, name STRING NULL)")
    plan = _plan(db, "fresh_t")
    assert plan.startswith("LocalRelation <empty>"), plan
    assert "LogicalRDD" not in plan
    assert db.execute("SELECT count(*) AS n FROM fresh_t").collect()[0].n == 0


def test_first_insert_becomes_the_table(db):
    """The first INSERT's rows replace CREATE's empty relation, which
    still counts as a segment: the 8th INSERT compacts."""
    db.execute("CREATE TABLE first_t (id U32)")
    db.execute("INSERT INTO first_t VALUES (0)")
    assert "Union" not in _plan(db, "first_t")
    for i in range(1, 7):
        db.execute(f"INSERT INTO first_t VALUES ({i})")
    assert "Union" in _plan(db, "first_t")  # later INSERTs append segments
    assert db._segments["first_t"] == db._MAX_SEGMENTS
    db.execute("INSERT INTO first_t VALUES (7)")
    assert db._segments["first_t"] == 1
    assert "Union" not in _plan(db, "first_t")
    got = sorted(r.id for r in db.execute("SELECT id FROM first_t").collect())
    assert got == list(range(8))


@pytest.fixture()
def vanilla_conf(spark):
    """Spark's own defaults instead of the session's: AQE off and 200
    shuffle partitions. Restores both afterwards."""
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "200",
    }
    saved = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_checks_raise_without_aqe_and_at_200_partitions(db, vanilla_conf):
    """The observed row checks and MERGE counts reach the driver the
    same way whatever the shuffle layout."""
    test_implicit_not_null_rejected(db)
    db.execute("CREATE TABLE wide_t (id I8)")
    with pytest.raises(LlamaError, match="out of range"):
        db.execute("INSERT INTO wide_t VALUES (-129)")
    test_unsigned_range_enforced(LlamaSession(db.spark))
    for matched in ("UPDATE SET qty = s.qty", "DELETE"):
        test_merge_cardinality_violation_raises(LlamaSession(db.spark), matched)
    test_merge_duplicate_source_key_without_match_inserts_both(LlamaSession(db.spark))


def test_merge_commit_is_one_partition_at_200_shuffle_partitions(db, vanilla_conf):
    """Without AQE nothing coalesces the MERGE join's output partitions;
    the committed table is still sized to its 4 rows."""
    _merge_db(db)
    db.execute(_UPSERT.format(src="delta"))
    assert _partitions(db, "inv") == 1
    assert db.execute("SELECT count(*) AS n FROM inv").collect()[0].n == 4


def test_merge_after_insert_select_from_constrained_table(db):
    """INSERT...SELECT from a table whose checkpoint carries constraints
    (`v <=> 1` after the UPDATE), then a MERGE over the segmented table.
    The staged rows must come out under fresh attributes: a checkpoint
    that keeps constraints on ids it no longer outputs makes Spark's
    union analysis fail with `key not found`."""
    db.execute("CREATE TABLE src_g (id U8, v I32)")
    db.execute("INSERT INTO src_g VALUES (1, 1), (2, 2), (3, 3)")
    db.execute("UPDATE src_g SET v = 1")
    db.execute("CREATE TABLE dst_f (id U32, v I32)")
    db.execute("INSERT INTO dst_f VALUES (9, 9)")
    db.execute("INSERT INTO dst_f (id, v) SELECT id, v FROM src_g WHERE id > 1")
    db.execute("INSERT INTO dst_f VALUES (10, 10)")
    db.execute(
        "MERGE INTO dst_f USING src_g ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v"
    )
    got = sorted(tuple(r) for r in db.execute("SELECT id, v FROM dst_f").collect())
    assert got == [(2, 2), (3, 2), (9, 9), (10, 10)]
