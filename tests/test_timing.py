"""The per-key timing kernel (tools/timing.py) and bench.py's headline
list, checked without Spark."""

from __future__ import annotations

import pytest

from tools import timing


class _Clock:
    def __init__(self):
        self.now = 1000.0

    def time(self):
        return self.now


class _FakeFrame:
    """A DataFrame stand-in whose ``.write.format(..).mode(..).save()``
    records the sink and advances the clock by the key's exec cost."""

    def __init__(self, clock, sinks, exec_s):
        self.clock, self.sinks, self.exec_s = clock, sinks, exec_s

    @property
    def write(self):
        return self

    def format(self, fmt):
        self.fmt = fmt
        return self

    def mode(self, mode):
        self.mode_ = mode
        return self

    def save(self):
        self.sinks.append((self.fmt, self.mode_))
        self.clock.now += self.exec_s


def test_kernel_warms_once_and_times_build_and_exec_per_run(monkeypatch):
    clock = _Clock()
    monkeypatch.setattr(timing, "time", clock)
    calls, sinks = [], []
    # per-key build cost of each successive call, and a fixed exec cost
    builds = {"a": iter([0.5, 0.1, 0.3]), "b": iter([2.0, 1.0, 4.0, 3.0])}
    execs = {"a": 1.0, "b": 0.25, timing.WARMUP_KEY: 7.0}

    def query(name):
        def build(spark, sf_dir):
            assert (spark, sf_dir) == ("SPARK", "SF")
            calls.append(name)
            clock.now += next(builds[name]) if name in builds else 0.0
            return _FakeFrame(clock, sinks, execs[name])

        return build

    queries = {n: query(n) for n in ("a", "b", timing.WARMUP_KEY)}
    runs = timing.time_keys("SPARK", queries, "SF", ["a"], 3)
    assert calls == [timing.WARMUP_KEY, "a", "a", "a"]
    assert sinks == [("noop", "overwrite")] * 4
    assert list(runs) == ["a"] and len(runs["a"]) == 3
    assert [r["build_s"] for r in runs["a"]] == pytest.approx([0.5, 0.1, 0.3])
    assert [r["exec_s"] for r in runs["a"]] == pytest.approx([1.0] * 3)
    # run starts follow each other: warm-up 7 s, then 1.5, 1.1, 1.3 s
    assert [r["t0"] for r in runs["a"]] == pytest.approx([1007.0, 1008.5, 1009.6])
    # the reported time is the median run, the floor the fastest
    assert timing.median_min(runs["a"]) == (1.3, 1.1)

    calls.clear()
    runs = timing.time_keys("SPARK", queries, "SF", ["b"], 4)
    assert calls == [timing.WARMUP_KEY] + ["b"] * 4
    # even run count: the median is the mean of the middle two
    assert timing.median_min(runs["b"]) == (2.75, 1.25)


def test_kernel_collects_garbage_every_ten_keys(monkeypatch):
    collected = []
    monkeypatch.setattr(timing.gc, "collect", lambda: collected.append(1))
    sinks = []
    clock = _Clock()
    queries = {
        n: (lambda spark, sf_dir: _FakeFrame(clock, sinks, 0.0))
        for n in [timing.WARMUP_KEY] + [f"k{i}" for i in range(25)]
    }
    runs = timing.time_keys(None, queries, "SF", [f"k{i}" for i in range(25)], 1)
    assert len(runs) == 25 and len(collected) == 2


def test_every_headline_key_is_registered():
    """`value` sums the HEADLINE keys that were timed, so a renamed
    or dropped key would shrink the headline without any error."""
    import bench
    from llamadb_spark.queries import all_queries

    missing = sorted(set(bench.HEADLINE) - set(all_queries()))
    assert not missing, f"HEADLINE keys not in the registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
