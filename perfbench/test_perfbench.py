"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import os
import random
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace as tracing  # noqa: E402
from workloads import Ctx, Op, Workload, workload  # noqa: E402


# -- statistics -----------------------------------------------------------------


def test_pass_seconds_sums_per_type_medians():
    lat = {"a": [1.0, 9.0, 2.0], "b": [0.5, 0.5, 0.7], "c": [3.0]}
    assert stats.pass_seconds(lat) == pytest.approx(2.0 + 0.5 + 3.0)


def test_pass_seconds_ignores_one_slow_pass():
    steady = {"a": [1.0, 1.0, 1.0], "b": [2.0, 2.0, 2.0]}
    spiked = {"a": [1.0, 8.0, 1.0], "b": [2.0, 2.0, 9.0]}
    assert stats.pass_seconds(spiked) == stats.pass_seconds(steady)


def test_p90_excess_on_synthetic_latencies():
    # type a: median 1.0, excesses 0, 0, ..., 0.9 (ten ops)
    a = [1.0] * 9 + [1.9]
    # type b: median 5.0, excesses 0 x 9, 4.0
    b = [5.0] * 9 + [9.0]
    excess = sorted([0.0] * 9 + [0.9 + 0.0] + [0.0] * 9 + [4.0])
    assert stats.p90_excess({"a": a, "b": b}) == pytest.approx(excess[18])
    assert stats.p90_excess({"a": [2.0, 2.0]}) == 0.0


# -- output checks ----------------------------------------------------------------


def test_digest_is_order_insensitive_and_normalises_numbers():
    import datetime as dt

    a = check.digest(["x", "y"], [(1, 2.5), (3, None)])
    b = check.digest(["y", "x"], [(None, 3.0), (2.5, 1)])
    assert a == b
    midnight = check.digest(["d"], [(dt.datetime(2024, 1, 2),)])
    assert midnight == check.digest(["d"], [(dt.date(2024, 1, 2),)])
    assert check.digest(["x"], [(1,)]) != check.digest(["x"], [(2,)])
    big = 2**60 + 1  # beyond float precision: must not collide with 2**60
    assert check.digest(["x"], [(big,)]) != check.digest(["x"], [(2**60,)])


class _Tracker:
    def getJobIdsForGroup(self, group):
        return []


class _SC:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass

    def statusTracker(self):
        return _Tracker()


def _bench(ops_first, ops_rest) -> run.Bench:
    args = SimpleNamespace(workload="interactive_analytics", seed=3, seconds=0, trace=0)
    b = run.Bench(args, "/nonexistent")
    b.sc = _SC()
    b.wl = Workload("fake", 0.0, 0.0, 0, 1, 1.0, ops_first, ops_rest)
    return b


def _const_op(name: str, value, want) -> Op:
    return Op(
        name,
        build=lambda ctx: value,
        execute=lambda ctx, built: built,
        check=lambda ctx, built, out: None if out == want else f"{out} != {want}",
    )


def test_forced_mismatch_counts_as_failure():
    ops = [_const_op("good", 1, 1), _const_op("wrong", 1, 2)]
    b = _bench([], ops)
    ctx = Ctx(None, "", {}, {})
    for p in range(2):
        b.run_pass(ctx, random.Random(0), p, "timed", False)
    attempted, failed = run.outcome(b.records)
    assert (attempted, failed) == (4, 2)
    assert all(not r["ok"] and "!=" in r["problem"] for r in b.records if r["op"] == "wrong")


def test_raising_op_counts_as_failure():
    def boom(ctx):
        raise RuntimeError("drain timed out")

    b = _bench([], [Op("boom", boom, lambda c, x: x, lambda c, x, y: None)])
    b.run_pass(Ctx(None, "", {}, {}), random.Random(0), 0, "timed", False)
    assert run.outcome(b.records) == (1, 1)
    assert "drain timed out" in b.records[0]["problem"]


def test_registry_check_against_oracle_digest():
    op = workload("interactive_analytics").rest[0]
    df = SimpleNamespace(columns=["doc_id", "text"])
    rows = [(1, "a"), (2, "b")]
    good = Ctx(None, "", {}, {op.name: check.digest(["doc_id", "text"], rows)})
    assert op.check(good, df, rows) is None
    bad = Ctx(None, "", {}, {op.name: check.digest(["doc_id", "text"], rows[:1])})
    assert "expected" in op.check(bad, df, rows)
    broken = Ctx(None, "", {}, {op.name: "duckdb error: boom"})
    assert op.check(broken, df, rows) == "duckdb error: boom"


# -- passes -----------------------------------------------------------------------


def test_every_pass_runs_each_op_type_once_first_ops_first():
    first = [_const_op(f"f{i}", 0, 0) for i in range(2)]
    rest = [_const_op(f"r{i}", 0, 0) for i in range(5)]
    b = _bench(first, rest)
    rng = random.Random(11)
    for p in range(6):
        b.run_pass(Ctx(None, "", {}, {}), rng, p, "timed", False)
    orders = set()
    for p in range(6):
        names = [r["op"] for r in b.records if r["pass"] == p]
        assert sorted(names) == sorted(o.name for o in first + rest)
        assert set(names[:2]) == {"f0", "f1"}
        orders.add(tuple(names))
    assert len(orders) > 1  # the order is shuffled


def test_timed_pass_count_depends_on_the_budget_only():
    wl = Workload("fake", 0.0, 0.0, 0, 2, 6.0, [], [])
    assert wl.timed_passes(0) == 2  # never below the minimum
    assert wl.timed_passes(20) == 3
    assert wl.timed_passes(40) == 6
    ia = workload("interactive_analytics")
    assert ia.timed_passes(20) == 3 and ia.warmup_passes == 1
    im = workload("ingest_maintain")
    assert im.timed_passes(20) == 1 and im.warmup_passes == 2


def test_workloads_run_their_listed_ops():
    ia = workload("interactive_analytics")
    assert len(ia.ops) == 13 and not ia.first
    im = workload("ingest_maintain")
    assert [o.name for o in im.first] == ["arrive_claude", "arrive_chatgpt"]
    assert len(im.rest) == 8


# -- generator ----------------------------------------------------------------------


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    ra = gen.write_tables(str(a), 5, 0.001, 0.002)
    rb = gen.write_tables(str(b), 5, 0.001, 0.002)
    gen.write_tables(str(c), 6, 0.001, 0.002)
    assert ra == rb and ra["documents"] == 100
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert not filecmp.cmp(a / "events.parquet", c / "events.parquet", shallow=False)


def test_exports_are_byte_identical_for_a_seed(tmp_path):
    def arrivals(seed, d):
        s = gen.ExportStream(seed)
        os.makedirs(d)
        for i, platform in enumerate(["claude", "chatgpt"] * 3):
            s.write(os.path.join(d, f"{i}.json"), platform)
        return s

    s1 = arrivals(9, tmp_path / "x")
    s2 = arrivals(9, tmp_path / "y")
    arrivals(10, tmp_path / "z")
    names = sorted(os.listdir(tmp_path / "x"))
    match, _, _ = filecmp.cmpfiles(tmp_path / "x", tmp_path / "y", names, shallow=False)
    assert match == names
    assert not filecmp.cmp(tmp_path / "x" / "5.json", tmp_path / "z" / "5.json", shallow=False)
    assert s1.expect("spark") == s2.expect("spark")


def test_export_store_is_bounded_and_first_export_is_full(tmp_path):
    s = gen.ExportStream(1, n_convs=6, per_file=2)
    s.write(str(tmp_path / "c.json"), "claude")
    s.write(str(tmp_path / "g.json"), "chatgpt")
    assert len(s.store_convs) == 12
    for i in range(20):
        s.write(str(tmp_path / f"{i}.json"), "claude" if i % 2 else "chatgpt")
    assert len(s.store_convs) == 12
    assert len(s.store_msgs) <= 6 * 10 + 6 * 12


def test_bfs_visits_roots_sorted_and_children_in_order():
    mapping = {
        "r2": {"parent": None, "children": ["x"], "message": {"id": "x0"}},
        "r1": {"parent": None, "children": ["a", "b"], "message": None},
        "a": {"parent": "r1", "children": ["c"], "message": {"id": "a"}},
        "b": {"parent": "r1", "children": [], "message": {"id": "b"}},
        "c": {"parent": "a", "children": [], "message": {"id": "c"}},
        "x": {"parent": "r2", "children": [], "message": {"id": "x"}},
    }
    # one queue seeded with every root: level by level across trees
    assert gen.bfs_nodes(mapping) == ["r2", "a", "b", "x", "c"]


# -- tracing ------------------------------------------------------------------------


def test_jobs_attributed_by_group_then_by_time_window():
    phases = [
        {"id": "op1:build", "t0": 10.0, "t1": 11.0},
        {"id": "op1:exec", "t0": 11.0, "t1": 12.0},
    ]
    jobs = {
        1: {"group": "op1:exec", "start_ms": 10500},  # group wins over time
        2: {"group": "stream-run-id", "start_ms": 10400},
        3: {"group": None, "start_ms": 50000},
    }
    tracing.attribute(jobs, phases)
    assert [jobs[i]["phase"] for i in (1, 2, 3)] == ["op1:exec", "op1:build", None]


def test_self_time_subtracts_children():
    spans = [
        {"id": "op", "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": "b", "parent": "op", "t0": 0.0, "t1": 4.0},
        {"id": "e", "parent": "op", "t0": 4.0, "t1": 9.0},
    ]
    tracing.self_times(spans)
    assert [s["self_s"] for s in spans] == [1.0, 4.0, 5.0]
