"""Property-based tests (hypothesis): operator semantics verified
against pure-python references on randomized inputs — the fuzzing
layer on top of the fixed DuckDB-oracle suite."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from llamadb_spark.operators import dedup
from llamadb_spark.operators.asof import asof_join
from llamadb_spark.operators.dedup import jaccard_ngram_pairs
from llamadb_spark.sql.dialect import LlamaError, translate_type

_SPARK_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(bits=st.integers(min_value=-10, max_value=200), signed=st.booleans())
@settings(max_examples=100, deadline=None)
def test_translate_type_int_widths(bits, signed):
    name = ("i" if signed else "u") + str(bits)
    valid = 8 <= bits <= 64 and bits % 8 == 0
    if not valid:
        try:
            translate_type(name)
        except LlamaError:
            return
        raise AssertionError(f"{name} should have been rejected")
    dtype, (lo, hi) = translate_type(name)
    # bounds are exactly the reference's N-bit ranges
    assert (hi - lo + 1) == 2**bits
    assert (lo == 0) != signed


@given(
    left=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50)), min_size=0, max_size=12
    ),
)
@_SPARK_SETTINGS
def test_asof_join_matches_bruteforce(spark, left, right):
    # unique (key, ts) per side — matches the real-data contract
    left = list({(k, t): None for k, t in left}.keys())
    right = list({(k, t): None for k, t in right}.keys())
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k long, ts long, lid long"
    )
    rdf = spark.createDataFrame(
        [(k, t, float(i)) for i, (k, t) in enumerate(right)],
        "k long, ts long, v double",
    )
    got = {
        r.lid: r.v_right
        for r in asof_join(ldf, rdf, key="k", right_value_cols=["v"]).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, float(j)) for j, (rk, rt) in enumerate(right) if rk == k and rt <= t]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, t, cands)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=10).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@_SPARK_SETTINGS
def test_jaccard_matches_python_reference(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_ngram_pairs(docs, threshold=0.0).collect()
    }

    def shingles(t: str) -> set[str]:
        toks = [w for w in t.lower().split() if w]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    expect = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = shingles(texts[a]), shingles(texts[b])
            inter = len(sa & sb)
            if inter:
                expect[(a, b)] = round(inter / len(sa | sb), 6)
    assert got == expect


@given(
    texts=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@example(texts=["a a a b", "a a a", "b a a a"])
@settings(_SPARK_SETTINGS, max_examples=3)
def test_bounded_guard_matches_always_guarded(spark, texts):
    """Around the index's doc count D (caps D - 1, D, D + 1) the guard
    that skips itself at caps of at least D gives the rows of the guard
    that always runs. Two-letter texts make shingles that every doc
    shares, so a cap of D - 1 often drops one. D is the count the
    index observes (docs with a shingle: ``test_shingle_index_counts_
    its_docs``)."""
    from llamadb_spark.functions.blocking import drop_hot_keys

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    d = sum(len(t.split()) >= 3 for t in texts)

    def rows(cap):
        out = jaccard_ngram_pairs(docs, threshold=0.0, stop_shingle_df=cap)
        return sorted(tuple(r) for r in out.collect())

    gated = {cap: rows(cap) for cap in (d - 1, d, d + 1)}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            dedup,
            "drop_hot_keys",
            lambda df, keys, cap, entities=None: drop_hot_keys(df, keys, cap),
        )
        for cap, got in gated.items():
            assert got == rows(cap), (cap, d)


@given(
    points=st.lists(st.integers(0, 40), min_size=1, max_size=10),
    intervals=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 15)), min_size=0, max_size=8
    ),
    width=st.sampled_from([1.0, 3.0, 7.5]),
)
@_SPARK_SETTINGS
def test_range_join_matches_bruteforce(spark, points, intervals, width):
    from llamadb_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], "pid long, v double"
    )
    ivs = spark.createDataFrame(
        [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(intervals)],
        "iid long, lo double, hi double",
    )
    got = {
        (r.pid, r.iid)
        for r in range_join(
            pts, ivs, point_col="v", lo_col="lo", hi_col="hi", bucket_width=width
        ).collect()
    }
    expect = {
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, w) in enumerate(intervals)
        if lo <= p <= lo + w
    }
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=15
    )
)
@_SPARK_SETTINGS
@pytest.mark.parametrize(
    "local_max", [dedup._LOCAL_MAX_EDGES, -1], ids=["local", "distributed"]
)
# The ids keep the names of the cases from when a min-label and a star
# function both existed; the axis now reads the edges as drawn and
# reversed (a and b columns swapped), which must give the same labels.
@pytest.mark.parametrize(
    "cols", [("a_id", "b_id"), ("b_id", "a_id")], ids=["minlabel", "star"]
)
def test_connected_components_matches_union_find(
    spark, monkeypatch, cols, local_max, edges
):
    # -1 forces the star rounds; the default finishes locally.
    # Self-loops stay in: a self-loop-only node is a singleton.
    monkeypatch.setattr(dedup, "_LOCAL_MAX_EDGES", local_max)
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r.node: r.cluster_id
        for r in dedup.connected_components(df, *cols).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}
    assert got == expect


_COLTYPES = {
    "U8": st.integers(0, 255),
    "I8": st.integers(-128, 127),
    "U16": st.integers(0, 2**16 - 1),
    "I32": st.integers(-(2**31), 2**31 - 1),
    "I64": st.integers(-(2**63), 2**63 - 1),
    "U64": st.integers(0, 2**64 - 1),
    "STRING": st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz 0123456789", min_size=0, max_size=12
    ),
    "F64": st.integers(-(10**6), 10**6).map(lambda i: i / 4.0),
}

_table_counter = [0]


@given(
    cols=st.lists(
        st.sampled_from(sorted(_COLTYPES)), min_size=1, max_size=4
    ),
    data=st.data(),
)
@_SPARK_SETTINGS
def test_dialect_create_insert_select_roundtrip(spark, cols, data):
    """Fuzz the dialect end-to-end: any CREATE with reference types,
    any in-bounds values must insert and read back exactly (the
    reference's tempdb roundtrip invariant, randomized)."""
    from llamadb_spark.sql import LlamaSession

    db = LlamaSession(spark)
    _table_counter[0] += 1
    name = f"fuzz_{_table_counter[0]}"
    coldefs = ", ".join(f"c{i} {t} NULL" for i, t in enumerate(cols))
    db.execute(f"CREATE TABLE {name} ({coldefs})")

    n_rows = data.draw(st.integers(1, 3))
    rows = [
        tuple(data.draw(_COLTYPES[t]) for t in cols) for _ in range(n_rows)
    ]

    def sql_lit(t, v):
        if t == "STRING":
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    tuples = ", ".join(
        "(" + ", ".join(sql_lit(t, v) for t, v in zip(cols, row)) + ")"
        for row in rows
    )
    db.execute(f"INSERT INTO {name} VALUES {tuples}")
    got = sorted(
        tuple(
            int(v) if cols[i] == "U64" else v for i, v in enumerate(r)
        )
        for r in db.execute(f"SELECT * FROM {name}").collect()
    )
    assert got == sorted(rows)


@given(
    t=st.sampled_from(["U8", "I8", "U16", "I32"]),
    above=st.booleans(),
)
@_SPARK_SETTINGS
def test_dialect_out_of_bounds_always_rejected(spark, t, above):
    from llamadb_spark.sql import LlamaSession

    db = LlamaSession(spark)
    _table_counter[0] += 1
    name = f"fuzzb_{_table_counter[0]}"
    db.execute(f"CREATE TABLE {name} (c0 {t})")
    _, (lo, hi) = translate_type(t)
    bad = hi + 1 if above else lo - 1
    try:
        db.execute(f"INSERT INTO {name} VALUES ({bad})")
    except LlamaError:
        return
    raise AssertionError(f"{t} accepted out-of-range {bad}")


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 1_000)),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(1, 8),
)
@_SPARK_SETTINGS
def test_weighted_sample_matches_python_reference(spark, rows, k):
    """The PPS keep-test is pure integer arithmetic — a python
    re-implementation must select the identical set."""
    from llamadb_spark.operators.sampling import KNUTH, PREMOD, weighted_sample

    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {r.doc_id for r in weighted_sample(df, k=k, weight_col="w").collect()}
    total = sum(w for _, w in rows)
    expected = {
        d
        for d, w in rows
        if total > 0
        and ((d % PREMOD) * KNUTH) % 1_000_000_000 * total < k * w * 1_000_000_000
    }
    assert got == expected


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=8,
    )
)
@_SPARK_SETTINGS
def test_containment_matches_python_reference(spark, texts):
    """Containment pairs against a pure-python shingle-set reference:
    same pairs, same orientation (smaller set inside), same value."""
    from llamadb_spark.operators.dedup import containment_pairs

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(t):
        toks = [w for w in t.strip().lower().split() if w]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(t) for i, t in docs}
    expected = set()
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            c = round(inter / min(len(sets[a]), len(sets[b])), 6)
            if c >= 0.5:
                small_is_a = (len(sets[a]) < len(sets[b])) or (
                    len(sets[a]) == len(sets[b]) and a < b
                )
                inner, outer = (a, b) if small_is_a else (b, a)
                expected.add((inner, outer, c))
    got = {
        (r.inner_id, r.outer_id, r.containment)
        for r in containment_pairs(df, threshold=0.5).collect()
    }
    assert got == expected


@given(
    n=st.integers(min_value=1, max_value=20),
    start=st.integers(min_value=-5, max_value=5),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_recursive_series_matches_closed_form(spark, n, start):
    """WITH RECURSIVE series generation agrees with the closed form
    for arbitrary spans — the fixpoint loop neither drops nor
    duplicates rounds."""
    from llamadb_spark.sql.dialect import recursive_sql

    rows = recursive_sql(
        spark,
        f"WITH RECURSIVE t(n) AS (SELECT {start} AS n UNION ALL "
        f"SELECT n + 1 FROM t WHERE n < {start + n - 1}) "
        "SELECT count(*) AS c, sum(n) AS s, min(n) AS lo, max(n) AS hi FROM t",
    ).collect()
    r = rows[0]
    assert r.c == n
    assert r.lo == start and r.hi == start + n - 1
    assert r.s == sum(range(start, start + n))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.text(
                alphabet=st.characters(
                    min_codepoint=1, max_codepoint=0x2FF
                ),
                max_size=6,
            ),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sort_key_encoding_preserves_typed_order(spark, rows):
    """docs/Indexing and Sorting.md parity: the memcmp-sortable
    composite key must order (int64, string, int64) tuples exactly
    like the typed comparison — full int range, prefixes, empty
    strings, multi-byte codepoints. (NUL is excluded from the string
    alphabet — the encoder's documented terminator assumption.)"""
    from llamadb_spark.functions.keycodec import (
        int64_key,
        sort_key,
        string_key,
    )

    df = spark.createDataFrame(rows, "a long, s string, b long")
    got = [
        (r.a, r.s, r.b)
        for r in df.select(
            "a", "s", "b",
            sort_key(
                int64_key("a"), string_key("s"), int64_key("b")
            ).alias("k"),
        )
        .orderBy("k", "a", "s", "b")
        .collect()
    ]
    assert got == sorted(rows)


@given(
    target=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    source=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_upsert_matches_reference_model(spark, target, source):
    """MERGE fuzz: for arbitrary unique-keyed target/source tables,
    UPDATE-matched + INSERT-unmatched must equal the dict-merge
    reference model computed in plain Python."""
    from llamadb_spark.sql import LlamaSession

    db = LlamaSession(spark)
    db.execute("CREATE TABLE fz_t (id I32, v I32)")
    db.execute("CREATE TABLE fz_s (id I32, v I32)")
    for rows, name in ((target, "fz_t"), (source, "fz_s")):
        if rows:
            vals = ", ".join(f"({k}, {v})" for k, v in rows)
            db.execute(f"INSERT INTO {name} VALUES {vals}")
    db.execute(
        "MERGE INTO fz_t USING fz_s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    got = {
        r.id: r.v for r in db.execute("SELECT id, v FROM fz_t").collect()
    }
    model = dict(target)
    for k, v in source:
        model[k] = model[k] + v if k in model else v
    assert got == model


_ID = st.integers(0, 4)
#: MERGE arms per op: the WHEN MATCHED action (None: insert-only) and
#: whether a WHEN NOT MATCHED INSERT arm follows. The two shapes with
#: both arms run a FULL join, the two matched-only ones a LEFT join.
_MERGE_ARMS = {
    "merge-update": ("UPDATE SET v = s.v", True),
    "merge-delete": ("DELETE", True),
    "merge-insert": (None, True),
    "merge-update-only": ("UPDATE SET v = s.v", False),
    "merge-delete-only": ("DELETE", False),
}
_STATEMENT = st.one_of(
    st.tuples(
        st.just("insert"), st.lists(st.tuples(_ID, _ID), min_size=1, max_size=3)
    ),
    st.tuples(st.just("update"), _ID, _ID),
    st.tuples(st.just("delete"), st.none() | _ID),
    st.tuples(
        st.sampled_from(sorted(_MERGE_ARMS)),
        st.dictionaries(_ID, _ID, min_size=1, max_size=3),
        st.booleans(),
    ),
    st.tuples(st.just("reach"), _ID),
)


def _reach(rows, start):
    """Nodes reachable from ``start`` over the (u, v) edges."""
    seen, frontier = set(), {v for u, v in rows if u == start}
    while frontier - seen:
        seen |= frontier
        frontier = {v for u, v in rows if u in frontier}
    return sorted(seen)


@example(statements=[("merge-update", {1: 2}), ("merge-delete", {1: 3})])
@example(statements=[("insert", [(0, 1), (1, 2)]), ("reach", 0)])
@example(
    statements=[
        ("insert", [(0, 1), (1, 2), (1, 3)]),
        ("merge-insert", {1: 4, 2: 0}, False),
        ("merge-update-only", {0: 1, 2: 3}, True),
        ("merge-delete-only", {1: 0, 2: 2}, True),
        ("merge-update", {0: 0, 3: 4}, True),
    ]
)
@given(statements=st.lists(_STATEMENT, min_size=1, max_size=6))
@_SPARK_SETTINGS
def test_dialect_statement_sequence_matches_model(spark, statements):
    """Statement-sequence fuzz over one (u, v) edge table: INSERT,
    UPDATE, DELETE (with or without WHERE), MERGE (an UPDATE or a
    DELETE arm, an INSERT arm, or both; its ON optionally gated by the
    non-equi term ``s.v >= 2``), and a recursive UNION reachability
    read. Every read and the final table must equal a plain-Python
    model of the same statements."""
    from llamadb_spark.sql import LlamaSession

    db = LlamaSession(spark)
    _table_counter[0] += 1
    name = f"seq_{_table_counter[0]}"
    db.execute(f"CREATE TABLE {name} (u I64, v I64)")
    model: list[tuple[int, int]] = []
    for op, arg, *rest in statements:
        if op == "insert":
            vals = ", ".join(f"({u}, {v})" for u, v in arg)
            db.execute(f"INSERT INTO {name} VALUES {vals}")
            model += arg
        elif op == "update":
            db.execute(f"UPDATE {name} SET v = {rest[0]} WHERE u = {arg}")
            model = [(u, rest[0] if u == arg else v) for u, v in model]
        elif op == "delete":
            where = "" if arg is None else f" WHERE u = {arg}"
            db.execute(f"DELETE FROM {name}{where}")
            model = [(u, v) for u, v in model if arg is not None and u != arg]
        elif op.startswith("merge"):
            spark.createDataFrame(
                sorted(arg.items()), "u long, v long"
            ).createOrReplaceTempView(f"{name}_src")
            action, insert = _MERGE_ARMS[op]
            gated = bool(rest and rest[0])
            db.execute(
                f"MERGE INTO {name} USING {name}_src ON t.u = s.u"
                + (" AND s.v >= 2" if gated else "")
                + (f" WHEN MATCHED THEN {action}" if action else "")
                + (
                    " WHEN NOT MATCHED THEN INSERT (u, v) VALUES (s.u, s.v)"
                    if insert
                    else ""
                )
            )
            # source rows the ON condition admits, by key
            hits = {k: sv for k, sv in arg.items() if not gated or sv >= 2}
            old = {u for u, _ in model}
            if action == "DELETE":
                model = [(u, v) for u, v in model if u not in hits]
            elif action:
                model = [(u, hits.get(u, v)) for u, v in model]
            if insert:
                model += [
                    (k, sv) for k, sv in arg.items() if k not in old or k not in hits
                ]
        else:
            got = db.execute(
                f"WITH RECURSIVE reach(v) AS (SELECT v FROM {name} WHERE u = {arg} "
                f"UNION SELECT {name}.v AS v FROM reach r "
                f"JOIN {name} ON {name}.u = r.v) SELECT v FROM reach"
            ).collect()
            assert sorted(r.v for r in got) == _reach(model, arg)
    final = db.execute(f"SELECT u, v FROM {name}").collect()
    assert sorted(tuple(r) for r in final) == sorted(model)


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=30),
        min_size=2,
        max_size=4,
    )
)
@_SPARK_SETTINGS
def test_substring_spans_match_python_reference(spark, texts):
    """Seed-and-chain span detection vs a brute-force diagonal walk:
    every maximal cross-doc shared character run >= L, with exact
    offsets, over adversarial tiny-alphabet strings (where chance
    runs, multiple diagonals, and run-length-exactly-L edges all
    occur)."""
    from llamadb_spark.operators.spans import substring_span_pairs

    L = 5
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.a_id, r.b_id, r.a_start, r.b_start, r.run_len)
        for r in substring_span_pairs(
            docs, min_len=L, max_gram_occ=10**9
        ).collect()
    }

    expect = set()
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            A, B = texts[a], texts[b]
            for d in range(-(len(B) - 1), len(A)):
                run = 0
                i = max(d, 0)
                j = i - d
                while i < len(A) and j < len(B):
                    if A[i] == B[j]:
                        run += 1
                    else:
                        if run >= L:
                            expect.add((a, b, i - run + 1, j - run + 1, run))
                        run = 0
                    i += 1
                    j += 1
                if run >= L:
                    expect.add((a, b, i - run + 1, j - run + 1, run))
    assert got == expect


@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=30),
        min_size=2,
        max_size=3,
    ),
    stride=st.sampled_from([2, 3]),
)
@_SPARK_SETTINGS
def test_strided_spans_contained_and_recall_bounded(spark, texts, stride):
    """The stride knob's documented bounds: every strided span is
    contained in an exact span on the same diagonal; every exact run
    of length >= L + stride - 1 is detected with under-coverage
    < stride - 1 per end."""
    from llamadb_spark.operators.spans import substring_span_pairs

    L = 5
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    from collections import defaultdict

    exact = defaultdict(list)
    for r in substring_span_pairs(
        docs, min_len=L, max_gram_occ=10**9
    ).collect():
        exact[(r.a_id, r.b_id, r.a_start - r.b_start)].append(
            (r.a_start, r.run_len)
        )
    strided = defaultdict(list)
    for r in substring_span_pairs(
        docs, min_len=L, max_gram_occ=10**9, stride=stride
    ).collect():
        strided[(r.a_id, r.b_id, r.a_start - r.b_start)].append(
            (r.a_start, r.run_len)
        )
    # containment: each strided span sits inside SOME exact span on
    # its (pair, diagonal) — a diagonal can carry several runs
    for key, spans_ in strided.items():
        assert key in exact
        for s, n in spans_:
            assert any(
                es <= s and s + n <= es + en for es, en in exact[key]
            ), (key, s, n, exact[key])
    # recall: every exact run long enough to guarantee an aligned
    # seed is found, with bounded under-coverage on each end
    for key, runs_ in exact.items():
        for es, en in runs_:
            if en >= L + stride - 1:
                hits = [
                    (s, n)
                    for s, n in strided.get(key, [])
                    if es <= s and s + n <= es + en
                ]
                assert hits, (key, es, en)
                s, n = max(hits, key=lambda x: x[1])
                assert s - es < stride  # start under-coverage bound
                assert (es + en) - (s + n) < stride  # end bound


# --- BPE replace-chain equivalence (operators/bpe.py) ---------------

def _chain_encode_py(word: str, merges) -> list[str]:
    """Python mirror of the rank-ordered replace chain: str.replace
    has the same non-overlapping left-to-right resume-after-match
    semantics as Spark's and DuckDB's replace()."""
    s = "".join(f"|{c}~" for c in word)
    for a, b in merges:
        s = s.replace(f"|{a}~|{b}~", f"|{a}{b}~")
    return [t[:-1] for t in s.split("|") if t]


@given(
    word=st.text(
        alphabet="abcdefghilmnoprstuw", min_size=0, max_size=24
    )
)
@settings(max_examples=300, deadline=None)
def test_bpe_replace_chain_matches_priority_queue(word):
    """The load-bearing equivalence (operators/bpe.py fact #1+#2):
    rank-ordered replace sweeps over the |tok~ rendering produce
    EXACTLY the classic min-rank-pair priority-queue encode — on
    random words including adjacent-repeat shapes (llll, thethe)
    where a naive separator encoding diverges."""
    from llamadb_spark.operators.bpe import DEFAULT_MERGES, bpe_encode_py

    assert _chain_encode_py(word, DEFAULT_MERGES) == bpe_encode_py(
        word, DEFAULT_MERGES
    )


def test_bpe_spark_chain_matches_reference(spark):
    """Engine pin: the Spark column form (regexp_replace + replace
    chain) agrees with the priority-queue reference on fixed
    adversarial words — adjacent self-merges, chained merges, words
    with no applicable merges, and the empty-ish edge."""
    import pyspark.sql.functions as F

    from llamadb_spark.operators.bpe import (
        DEFAULT_MERGES,
        bpe_encode_py,
        bpe_encoded,
        bpe_token_count,
    )

    words = [
        "llllll", "thethethe", "forfor", "withwith", "aaaa", "x",
        "the", "thither", "weathers", "zzzz", "q", "others",
        "information", "understanding", "warehouse",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    rows = {
        r.word: (r.enc, r.n)
        for r in df.select(
            "word",
            bpe_encoded(F.col("word"), DEFAULT_MERGES).alias("enc"),
            bpe_token_count(F.col("word"), DEFAULT_MERGES).alias("n"),
        ).collect()
    }
    for w in words:
        toks = bpe_encode_py(w, DEFAULT_MERGES)
        want_enc = "".join(f"|{t}~" for t in toks)
        assert rows[w] == (want_enc, len(toks)), (w, rows[w], toks)


def test_check_merges_rejects_malformed_tables():
    """ADVICE r09: the rank-order ≡ priority-queue equivalence only
    holds for well-formed tables; _check_merges must enforce it, not
    assume it. The duplicate-product example is the documented
    divergence: on 'abcd' the chain gives [abc, d], the priority
    queue [abcd]."""
    import pytest

    from llamadb_spark.operators.bpe import _check_merges, bpe_encode_py

    dup = [("a", "b"), ("b", "c"), ("a", "bc"), ("abc", "d"), ("ab", "c")]
    with pytest.raises(ValueError, match="duplicates an earlier"):
        _check_merges(dup)
    # and the divergence it guards against is real:
    assert bpe_encode_py("abcd", dup) == ["abcd"]

    with pytest.raises(ValueError, match="neither a single character"):
        _check_merges([("a", "b"), ("cd", "e")])  # 'cd' never formed
    _check_merges([("a", "b"), ("ab", "c")])  # well-formed passes


def _synth_8k_merges():
    from tools.bpe_scale_eval import synth_merges

    return synth_merges(8192)


@given(word=st.text(alphabet="abcdefghij", min_size=0, max_size=20))
@settings(max_examples=150, deadline=None)
def test_bpe_chain_matches_arrow_kernel_8k_merges(word):
    """The chain ≡ priority-queue pin at PRODUCTION merge-table size
    (the Arrow path's kernel is bpe_encode_py): pure-Python replace
    chain — same left-to-right resume-after-match semantics as
    Spark's and DuckDB's replace(), no Catalyst depth limit — against
    the queue kernel on an 8192-merge well-formed table."""
    from llamadb_spark.operators.bpe import bpe_encode_py

    merges = _MERGES_8K
    assert _chain_encode_py(word, merges) == bpe_encode_py(word, merges)


_MERGES_8K = _synth_8k_merges()


def test_bpe_arrow_vocab_encode_8k_merges(spark):
    """VERDICT r09 #1 done-criterion: a >=8k-merge encode runs green
    on Spark. The chain form cannot ship at this size (analyzer
    StackOverflowError at >=384 merges, measured in
    tools/bpe_scale_eval.py) so bpe_encode_vocab must route to the
    Arrow mapInPandas path; its output is pinned against the pure-
    Python replace-chain mirror word by word."""
    from tools.bpe_scale_eval import synth_words

    from llamadb_spark.operators.bpe import (
        REPLACE_CHAIN_MAX_MERGES,
        bpe_encode_vocab,
    )

    merges = _MERGES_8K
    assert len(merges) > REPLACE_CHAIN_MAX_MERGES
    words = synth_words(300)
    vocab = spark.createDataFrame([(w,) for w in set(words)], "word string")
    got = {
        r.word: (r.encoded, r.n_tok)
        for r in bpe_encode_vocab(vocab, merges).collect()
    }
    plan = bpe_encode_vocab(vocab, merges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" in plan
    for w in set(words):
        toks = _chain_encode_py(w, merges)
        want = ("".join(f"|{t}~" for t in toks), len(toks))
        assert got[w] == want, (w, got[w], want)


#: Small integer coordinates: exact in float32, so the reference and
#: the operator see the same vectors, and (denominators of at most
#: 36) no rounded cosine can sit on a 6-dp half-way point, where one
#: ulp of matmul order could round it either way.
_VECTORS = st.integers(1, 4).flatmap(
    lambda d: st.lists(
        st.lists(st.integers(-3, 3), min_size=d, max_size=d),
        min_size=2,
        max_size=12,
    )
)


@given(
    vecs=_VECTORS,
    dup=st.booleans(),
    zero=st.booleans(),
    pick=st.integers(0, 10_000),
    drawn_threshold=st.none() | st.floats(-1.0, 1.0),
    num_blocks=st.sampled_from([1, 2, 8]),
    partitions=st.sampled_from([None, 50]),
)
@example(
    vecs=[[1, 0], [1, 1], [2, 2], [3, -1]], dup=True, zero=True, pick=1,
    drawn_threshold=None, num_blocks=8, partitions=50,
)
@settings(_SPARK_SETTINGS, max_examples=10)
def test_blocked_cosine_matches_numpy_reference(
    spark, vecs, dup, zero, pick, drawn_threshold, num_blocks, partitions
):
    """The exact blocked cosine against numpy brute force: every pair
    a < b with round(cos, 6) >= threshold, each once. ``dup`` adds a
    copy of the first vector, ``zero`` a zero vector (the 1e-12 norm
    clamp makes its cosine 0); without a drawn threshold it is the
    rounded cosine of one drawn pair, which must be kept. ``partitions``
    = 50 (coalescing off) gives more shuffle partitions than the
    B(B+1)/2 block pairs, so most partitions are empty."""
    import numpy as np

    from llamadb_spark.operators.similarity import embed_neardup_pairs

    if dup:
        vecs = vecs + [vecs[0]]
    if zero:
        vecs = vecs + [[0] * len(vecs[0])]
    n = len(vecs)
    m = np.array(vecs, dtype=np.float64)
    u = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    cos = np.round(u @ u.T, 6)
    i, j = pick % n, (pick // n) % (n - 1)
    j += j >= i
    threshold = float(cos[i, j]) if drawn_threshold is None else drawn_threshold
    expect = {
        (a, b): float(cos[a, b])
        for a in range(n)
        for b in range(a + 1, n)
        if cos[a, b] >= threshold
    }
    assert drawn_threshold is not None or (min(i, j), max(i, j)) in expect

    emb = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    confs = {}
    if partitions:
        confs = {
            "spark.sql.shuffle.partitions": str(partitions),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        rows = embed_neardup_pairs(
            emb, threshold=threshold, num_blocks=num_blocks
        ).collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    got = {(r.a_id, r.b_id): r.cos for r in rows}
    assert len(got) == len(rows), "a pair emitted twice"
    assert got == expect


@pytest.mark.parametrize("form", ["arrow", "pandas", "list"])
@pytest.mark.parametrize(
    "rows", [[[1.0, 2.0], [3.0]], [[1.0, 2.0], None]], ids=["ragged", "null"]
)
def test_vector_matrix_rejects_ragged_and_null_rows(form, rows):
    import pandas as pd
    import pyarrow as pa

    from llamadb_spark.functions.matrix import vector_matrix

    vectors = {
        "arrow": lambda: pa.array(rows, pa.list_(pa.float32())),
        "pandas": lambda: pd.Series(rows, dtype=object),
        "list": lambda: rows,
    }[form]()
    with pytest.raises(ValueError, match="ragged|null"):
        vector_matrix(vectors)
