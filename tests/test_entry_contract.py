"""Driver-contract self-checks: the external harness imports
__spark_entry__ and trusts its three functions blindly, so contract
drift must fail HERE first.

- every oracle key must have a query (an orphan oracle is dead
  weight; a query without an oracle is legitimate rows-only);
- no two query modules may register the same key — the registry is
  built with dict.update(), which would SILENTLY overwrite one
  implementation with another;
- every callable must accept (spark, sf_dir) positionally;
- key names must be stable identifiers (the driver uses them as
  filenames/JSON keys).
"""

from __future__ import annotations

import inspect
import re


def test_oracles_subset_of_queries():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    orphans = set(os_) - set(qs)
    assert not orphans, f"oracles without a query: {sorted(orphans)}"


def test_no_duplicate_keys_across_modules():
    from llamadb_spark.queries import _MODULES

    seen: dict[str, str] = {}
    dupes = []
    for mod in _MODULES:
        for k in mod.QUERIES:
            if k in seen:
                dupes.append((k, seen[k], mod.__name__))
            seen[k] = mod.__name__
    assert not dupes, f"key registered twice (silent overwrite): {dupes}"

    seen_o: dict[str, str] = {}
    dupes_o = []
    for mod in _MODULES:
        for k in mod.ORACLES:
            if k in seen_o:
                dupes_o.append((k, seen_o[k], mod.__name__))
            seen_o[k] = mod.__name__
    assert not dupes_o, f"oracle registered twice: {dupes_o}"


def test_callables_take_spark_and_sf_dir():
    import __spark_entry__ as e

    for name, fn in e.queries().items():
        params = list(inspect.signature(fn).parameters.values())
        required = [
            p for p in params
            if p.default is inspect.Parameter.empty
            and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        assert len(required) == 2, (
            f"{name} must take exactly (spark, sf_dir); has {params}"
        )


def test_key_names_are_stable_identifiers():
    import __spark_entry__ as e

    pat = re.compile(r"^[a-z][a-z0-9_]{2,40}$")
    bad = [k for k in e.queries() if not pat.match(k)]
    assert not bad, f"unsafe key names: {bad}"


def test_oracles_are_single_statements():
    # the driver feeds each oracle to DuckDB as ONE statement; a
    # stray semicolon would truncate it silently
    import __spark_entry__ as e

    bad = [
        k for k, sql in e.oracle_sql().items()
        if ";" in sql.strip().rstrip(";")
    ]
    assert not bad, f"multi-statement oracles: {bad}"


def test_rotation_tables_reference_real_keys():
    """The evidence-rotation tables are regenerated by hand each
    round; a typo'd key would silently rank nothing (the rotation
    sorts whatever exists) and the intended key would keep stale
    ordering. Every name in _LAST_CHECKED / _PLAN_CHANGED /
    _ROWS_ONLY_BY_DESIGN / ATTESTATION_KEYS must be a live registry
    key, and every registry key must rank somewhere deterministic
    (never-checked keys lead by design)."""
    import __spark_entry__ as e
    from llamadb_spark import queries as q

    keys = set(e.queries())
    for table_name in (
        "_LAST_CHECKED", "_PLAN_CHANGED", "_ROWS_ONLY_BY_DESIGN",
        "ATTESTATION_KEYS",
    ):
        table = getattr(q, table_name)
        stale = set(table) - keys
        assert not stale, f"{table_name} references dead keys: {stale}"
