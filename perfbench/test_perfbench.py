"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import fail_frac, process_age_s, quartile_spread, tail, tree_cpu_s  # noqa: E402


def test_tail_is_the_order_statistic_with_ten_samples_beyond_it():
    values = [float(v) for v in range(100)]
    value, pct, n = tail(values[::-1])
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(v > value for v in values) == 10

    value, pct, n = tail([float(v) for v in range(20)])
    assert (value, pct, n) == (9.0, 50.0, 20)


def test_tail_with_fewer_than_twenty_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([0.5]) == (0.5, 100.0, 1)
    assert tail([]) == (0.0, 0.0, 0)


def test_fail_frac_counts_failed_and_mismatched_ops():
    assert fail_frac([True, True, True, False]) == 0.25
    assert fail_frac([False, False]) == 1.0
    assert fail_frac([True]) == 0.0
    assert fail_frac([]) == 0.0


def test_quartile_spread():
    assert quartile_spread([1.0] * 10) == 0.0
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_landing_batches_reproduce_for_one_seed():
    a = inputs.landing_batches(7, 20)
    b = inputs.landing_batches(7, 20)
    assert len(a) == 20 and all(len(x) == 500 for x in a)
    for x, y in zip(a, b):
        assert x.equals(y)
    ids = [i for x in a for i in x["event_id"]]
    assert sorted(ids) == list(range(10_000))
    assert ids != sorted(ids)  # batches are not in event-time order
    c = inputs.landing_batches(8, 20)
    assert not all(x.equals(y) for x, y in zip(a, c))


def test_mix_order_reproduces_for_one_seed():
    names = [f"q{i}" for i in range(12)]
    assert inputs.mix_order(names, 3) == inputs.mix_order(names, 3)
    assert sorted(inputs.mix_order(names, 3)) == sorted(names)
    assert inputs.mix_order(names, 3) != inputs.mix_order(names, 4)


def test_inputs_are_the_ten_source_tables():
    found = sorted(f[: -len(".parquet")] for f in os.listdir(inputs.DATA_DIR))
    assert found == sorted(inputs.SOURCE_TABLES)


def test_tree_cpu_counts_child_processes():
    import subprocess

    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", "sum(range(30_000_000))"])
    child.wait()  # reaped: its time moves into this process's cutime
    assert tree_cpu_s() - before >= 0.2
    assert 0 < process_age_s() < 3600


def test_tracer_wraps_module_functions_and_restores_them():
    mod = types.ModuleType("fake_pkg_mod")
    mod.work = lambda x: x * 2
    sys.modules["fake_pkg_mod"] = mod
    try:
        tr = Tracer()
        tr.wrap(mod, "work", "fake.work", attrs_of=lambda x: {"x": x})
        with tr.span("op"):
            assert mod.work(3) == 6
        assert [s.name for s in tr.spans] == ["op", "fake.work"]
        assert tr.spans[1].parent == tr.spans[0].id
        assert tr.spans[1].attrs == {"x": 3}
        tr.active = False
        mod.work(1)
        assert len(tr.spans) == 2  # nothing recorded after the timed loop
        tr.unwrap_all()
        assert mod.work.__name__ == "<lambda>"
    finally:
        del sys.modules["fake_pkg_mod"]


def test_store_diff_counts_the_stages_of_a_streaming_query(tmp_path):
    """streaming_window_agg runs its jobs on the stream's own thread, where
    job-group accounting sees none; the status-store diff must count them."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from workloads import PKG, pkg

    data_dir = inputs.DATA_DIR
    spark = __import__(PKG, fromlist=["get_spark"]).get_spark(
        "perfbench-test", {"spark.sql.warehouse.dir": str(tmp_path / "wh")}
    )
    try:
        tr = Tracer(spark)
        with tr.span("op", store_diff=True):
            pkg("queries").SPARK_QUERIES["streaming_window_agg"](spark, data_dir).collect()
    finally:
        spark.stop()
    counted = tr.spans[0].attrs["spark"]
    assert counted["stages"] >= 1
    assert counted["jobs"] >= 1
    assert counted["tasks"] >= counted["stages"]
    assert counted["executor_run_s"] > 0
