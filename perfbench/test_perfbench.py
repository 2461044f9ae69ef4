"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

import argparse
import itertools
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import sqlgen  # noqa: E402


def take(stream, n):
    return list(itertools.islice(stream, n))


def test_adhoc_stream_is_deterministic_per_seed():
    assert take(sqlgen.adhoc_stream(3), 60) == take(sqlgen.adhoc_stream(3), 60)
    assert take(sqlgen.adhoc_stream(3), 60) != take(sqlgen.adhoc_stream(4), 60)


def test_dashboard_stream_is_deterministic_per_seed():
    assert take(sqlgen.dashboard_stream(3), 200) == take(sqlgen.dashboard_stream(3), 200)
    assert take(sqlgen.dashboard_stream(3), 200) != take(sqlgen.dashboard_stream(4), 200)


def test_documents_are_deterministic_per_seed():
    assert datagen.documents(200, 1).equals(datagen.documents(200, 1))
    assert not datagen.documents(200, 1).equals(datagen.documents(200, 2))


def test_adhoc_outgrows_the_plan_cache():
    # OlapContext keeps 256 compiled plans
    qs = take(sqlgen.adhoc_stream(11), 600)
    assert len(set(qs)) == 600 > 256
    shapes = sum(("EXISTS" in q or "(SELECT" in q or "UNION ALL" in q
                  or "OVER (" in q) for q in qs)
    assert shapes / len(qs) == 0.2


def test_dashboard_has_exactly_16_queries():
    assert len(sqlgen.DASHBOARD) == 16
    assert set(take(sqlgen.dashboard_stream(5), 3000)) == set(sqlgen.DASHBOARD.values())


def test_dashboard_order_is_skewed():
    qs = take(sqlgen.dashboard_stream(5), 4000)
    counts = sorted((qs.count(q) for q in set(qs)), reverse=True)
    assert counts[0] > 5 * counts[-1]


def test_tail_needs_ten_samples_beyond_it():
    assert not spans.tail_supported(199, 95)
    assert spans.tail_supported(200, 95)
    assert spans.tail_supported(100, 90)
    assert not spans.tail_supported(99, 90)
    assert spans.highest_tail(1000) == 99
    assert spans.highest_tail(150) == 90
    assert spans.highest_tail(39) is None


def test_interquartile_mean_drops_the_outer_quarters():
    assert spans.interquartile_mean([1, 2, 3, 4, 100, -50, 2, 3]) == 2.5
    assert spans.interquartile_mean([7]) == 7


def test_percentile_interpolates():
    assert spans.percentile([1, 2, 3, 4], 50) == 2.5
    assert spans.percentile(range(101), 90) == 90


def test_self_time_subtracts_children():
    t = spans.Tracer()
    t.op = 0
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    o.start, o.end, i.start, i.end = 0.0, 1.0, 0.25, 0.5
    assert t.by_op() == {0: {"outer": 750.0, "inner": 250.0}}


def test_wrap_and_restore():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

        def g(self):
            return 7

    t = spans.Tracer()
    t.wrap(Box, "f", "box.f")
    t.wrap(Box, "g", "box.g")
    assert Box.f(1) == 2 and Box().g() == 7
    assert [s.name for s in t.spans] == ["box.f", "box.g"]
    t.restore()
    Box.f(1)
    assert len(t.spans) == 2


class FakeOracle:
    def rows(self, sql):
        return [(1, 2.0)]


def test_failed_counts_exceptions_and_wrong_results():
    b = run.Bench.__new__(run.Bench)
    b.failures = []
    ops = [
        {"sql": "a", "rows": None, "s": None},        # raised
        {"sql": "b", "rows": [(1, 2.5)], "s": 0.1},   # wrong value
        {"sql": "c", "rows": [(1, 2.0)], "s": 0.1},   # right
        {"sql": "d", "rows": [], "s": 0.1},           # missing row
    ]
    assert b.check(ops, FakeOracle()) == 3


def test_same_rows_tolerates_order_and_rounding():
    import datetime

    got = [("x", 1.0000000001, datetime.datetime(1995, 1, 1)), ("y", 2, None)]
    want = [("y", 2.0, None), ("x", 1.0, datetime.date(1995, 1, 1))]
    assert oracle.same_rows(got, want)
    assert not oracle.same_rows(got, want[:1])
    assert not oracle.same_rows([("x", 1.1)], [("x", 1.0)])


def test_expected_verdict():
    a = "ka lo mi ne ru sa te vo zi pa ka lo mi ne"
    near = a.replace("zi", "zu", 1)
    other = "pa pa pa pa te te te te vo vo vo vo mi mi mi mi"
    texts = {1: a, 2: near, 3: other, 4: a}
    # within a batch the smaller id wins: 2 copies 1, so it goes; 3 stays
    for kind in ("sig", "substr"):
        assert run.expected_verdict(kind, [], [1, 2, 3], texts) == {1: True, 2: False, 3: True}
    # against the store
    assert run.expected_verdict("sig", [1], [3, 4], texts) == {3: True, 4: False}


def test_covered_ms_merges_overlaps():
    assert run.covered_ms([(0.0, 0.5), (0.25, 1.0), (2.0, 3.0)], 0.0, 2.5) == 1500.0


def test_split_collect_accounts_for_the_whole_window():
    jobs = [(1.0, 1.5), (1.25, 2.0), (2.5, 3.0), (9.0, None)]
    pre, ex, gap, post = run.split_collect(jobs, 0.5, 3.25)
    assert (pre, ex, gap, post) == (500.0, 1500.0, 500.0, 250.0)
    assert pre + ex + gap + post == 2750.0
    assert run.split_collect([], 0.0, 1.0) == (None, 0.0, None, None)


class Broken:
    def sql(self, sql):
        raise RuntimeError("engine broken")


class NoOracle:
    def __init__(self, data_dir):
        pass

    def close(self):
        pass


def test_untraced_run_reports_a_verdict_when_every_query_fails(tmp_path, monkeypatch):
    data, index = tmp_path / "data", tmp_path / "index"
    data.mkdir()
    index.mkdir()
    for t in oracle.TABLES:
        (data / f"{t}.parquet").write_bytes(b"x")
    (index / "cube.parquet").write_bytes(b"xyz")
    monkeypatch.setattr(oracle, "Oracle", NoOracle)
    monkeypatch.setattr(run, "live_heap_mb", lambda spark: 100.0)
    args = argparse.Namespace(workload="adhoc_olap", seed=1, seconds=0.05, trace=0)
    b = run.Bench(args, {"read_data": str(data), "index": {"read": str(index)}},
                  str(tmp_path))
    b.ctx = Broken()
    warm: list = []
    b.run_op("SELECT 1", warm)
    reps = [{"setup": 9.0}, {"setup": 1.0}]
    res = b.untraced(reps, itertools.repeat("SELECT 2"), warm)
    assert res["correct"] is False
    assert res["attempted"] >= 2 and res["failed"] == res["attempted"]
    # latency was never measured, so it is left out, not reported as 0
    assert "query_iqm_ms" not in res["metrics"]
    assert "cpu_ms_per_query" not in res["metrics"]
    assert res["metrics"]["setup_s"]["value"] == 1.0  # the JVM launch is left out


def test_unmeasured_metrics_are_left_out():
    b = run.Bench.__new__(run.Bench)
    b.failures = []
    got = b.result(3, 0, {"a_ms": (None, "ms"), "b_s": (2, "s"), "c": (0, "count")})
    assert got["metrics"] == {"b_s": {"value": 2.0, "unit": "s"},
                              "c": {"value": 0.0, "unit": "count"}}
    assert run.median([None, None]) is None


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "adhoc_olap",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert r.stdout == ""


@pytest.mark.parametrize("seed", [1, 2])
def test_generated_sql_runs_in_duckdb(seed):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CALL dbgen(sf=0.001)")
    for name, sql in oracle.STAR_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    for sql in take(sqlgen.adhoc_stream(seed), 100) + list(sqlgen.DASHBOARD.values()):
        con.execute(sql).fetchall()
