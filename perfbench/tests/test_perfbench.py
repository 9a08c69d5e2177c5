"""Self-tests of the benchmark's own arithmetic and bookkeeping (no
Spark session). Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os

import numpy as np
import pytest

import fixture
import report
import stats
from spans import self_time_ms

def test_latency_counts_from_due_time():
    # ticks due each second; batch A (ticks 0-2) commits at 3.5 s,
    # batch B (ticks 3-4) at 6.0 s; tick 5 is never committed
    due = {t: 1000 * t for t in range(6)}
    commit = {0: 3500.0, 1: 3500.0, 2: 3500.0, 3: 6000.0, 4: 6000.0}
    lat, missed = stats.tick_latencies_ms(due, commit, range(6))
    assert lat == [3500.0, 2500.0, 1500.0, 3000.0, 2000.0]
    assert missed == [5]
    # at 3.5 s ticks 0-3 are due and none is committed yet
    assert stats.backlog_max(due, commit) == 4


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (999, 90.0), (1000, 99.0),
     (10000, 99.9)],
)
def test_highest_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.highest_supported(n) == expected


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(3).normal(size=57))
    for p in (50, 75, 90):
        assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 8.0, "end": 12.0}]
    assert self_time_ms(parent, kids) == pytest.approx((10 - 4 - 2) * 1e3)


def test_fixture_bytes_depend_only_on_seed(tmp_path):
    a = fixture.ensure(str(tmp_path / "a"), seed=7, days=1)
    b = fixture.ensure(str(tmp_path / "b"), seed=7, days=1)
    c = fixture.ensure(str(tmp_path / "c"), seed=8, days=1)
    for name in ("telemetry_raw.parquet", "trips.parquet"):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(os.path.join(a, "trips.parquet"), "rb") as fa, \
            open(os.path.join(c, "trips.parquet"), "rb") as fc:
        assert fa.read() != fc.read()


def test_fixture_shape():
    telemetry, trips = fixture.generate(seed=1, days=1)
    assert telemetry.num_rows == len(fixture.BUSES) * (
        fixture.SERVICE_END_S - fixture.SERVICE_START_S
    )
    assert set(trips.column("id").to_pylist()) == set(telemetry.column("trip_id").to_pylist())
    t = telemetry.column("time").cast("int64").to_numpy()
    assert t.min() == int(fixture.EPOCH.timestamp() * 1e6)
    assert (np.diff(t) >= 0).all()


def test_catalog_mix_resolves():
    import catalog
    from orca_ztbus_python_processor_spark.workloads.base import merged_catalog

    names = catalog.mix()
    queries = merged_catalog().queries
    assert set(catalog.NAMED_QUERIES) <= set(names)
    assert set(names.values()) == set(catalog.CATALOG_MODULES)
    assert all(n in queries for n in names)


def test_render_rejects_unlisted_metrics(tmp_path):
    class Args:
        workload, seed, trace = "trigger_open", 1, 1

    result = report.Result(
        e2e={"latency_mean_ms": 1.0}, layer={"plans.no_such_metric": 1.0}, attempted=1, failed=0
    )
    with pytest.raises(ValueError):
        report.render(result, Args, str(tmp_path))
