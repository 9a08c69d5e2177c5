"""Round-13 machinery tests: histogram rank selection
(functions/quantiles.py) and boundary-broadcast NTILE
(functions/ranks.with_global_ntiles_cuts).

Each optimized operator is differentially pinned against an
independent reference — pandas/numpy order statistics for the
selection core, the proven range-shuffle ``with_global_ntile`` for the
cut form — on adversarial shapes: heavy ties, n < k, single row,
descending keys, multi-spec batching, NaN/±Inf values, long keys past
2^53, non-finite weights, and the driver-collect cardinality guard.
"""

from __future__ import annotations

import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.functions.quantiles import (
    _MAX_GROUPS,
    _check_group_guard,
    exact_group_quantiles,
    exact_group_rank_values,
    exact_weighted_quantiles,
)
from orca_ztbus_python_processor_spark.functions.ranks import (
    with_global_ntile,
    with_global_ntile_cuts,
    with_global_ntiles_cuts,
)


def _rows(seed: int, n: int):
    rng = random.Random(seed)
    return [
        (
            i,
            rng.choice([1.0, 2.0, 2.0, 2.0, 3.5, -1.25]),
            rng.randint(0, 4),
            float(rng.randint(0, 3)),
            rng.choice(["a", "b", "c"]),
        )
        for i in range(n)
    ]


def test_exact_group_quantiles_matches_pandas(spark):
    pdf = pd.DataFrame(_rows(3, 4000), columns=["id", "v", "b", "c", "g"])
    df = spark.createDataFrame(pdf)
    out = (
        exact_group_quantiles(df, "g", "v", qs=(0.25, 0.5, 0.75))
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    for g, sub in pdf.groupby("g"):
        assert out.loc[g, "n"] == len(sub)
        for q, col in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75")]:
            # pandas linear interpolation == quantile_cont semantics
            import numpy as np

            exp = np.float32(sub["v"].quantile(q, interpolation="linear"))
            assert out.loc[g, col] == pytest.approx(exp, abs=0.0), (g, q)


def test_exact_group_rank_values_matches_sorted_pick(spark):
    pdf = pd.DataFrame(_rows(5, 3000), columns=["id", "v", "b", "c", "g"])
    df = spark.createDataFrame(pdf)
    out = (
        exact_group_rank_values(
            df,
            "g",
            "v",
            lambda n: {"lo": 1, "mid": (n + 1) // 2, "hi": n, "oob": n + 7},
        )
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    for g, sub in pdf.groupby("g"):
        vs = sorted(sub["v"])
        assert out.loc[g, "lo"] == vs[0]
        assert out.loc[g, "mid"] == vs[(len(vs) + 1) // 2 - 1]
        assert out.loc[g, "hi"] == vs[-1]
        assert pd.isna(out.loc[g, "oob"])  # out-of-range rank -> NULL


def test_exact_weighted_quantiles_integral_weights(spark):
    rng = random.Random(11)
    rows = [(float(rng.randint(0, 50)) / 4.0, float(rng.randint(1, 9))) for _ in range(5000)]
    df = spark.createDataFrame(rows, "v double, w double")
    qs = (0.25, 0.5, 0.9)
    out = exact_weighted_quantiles(df, "v", "w", qs=qs).toPandas().set_index("q")
    # brute force: smallest v whose cumulative weight reaches q * total
    byv = {}
    for v, w in rows:
        byv[v] = byv.get(v, 0.0) + w
    total = sum(w for _, w in rows)
    for q in qs:
        t, cum = q * total, 0.0
        for v in sorted(byv):
            cum += byv[v]
            if cum >= t:
                assert out.loc[q, "wq"] == pytest.approx(v, abs=0.0)
                break
        assert out.loc[q, "total_weight"] == total


_INF, _NAN = float("inf"), float("nan")
# Spark's ascending order: -Inf < finite < +Inf < NaN
_NONFINITE_ROWS = [
    ("a", 1.0), ("a", _NAN), ("a", _INF), ("a", -_INF), ("a", 3.0),
    ("b", 2.0), ("b", 4.0), ("b", 6.0),
]


def _same(got, exp) -> bool:
    return (math.isnan(got) and math.isnan(exp)) or got == exp


def test_nonfinite_group_quantiles_values(spark):
    df = spark.createDataFrame(_NONFINITE_ROWS, "g string, v double")
    out = (
        exact_group_quantiles(df, "g", "v", qs=(0, 0.1, 0.5, 0.9, 1))
        .toPandas()
        .set_index("g")
    )
    cols = ["p0", "p10", "p50", "p90", "p100"]
    assert out.loc["a", "n"] == 5 and out.loc["b", "n"] == 3
    # a sorted: -inf, 1, 3, +inf, nan; interpolation propagates inf/nan
    for col, exp in zip(cols, [-_INF, -_INF, 3.0, _NAN, _NAN]):
        assert _same(float(out.loc["a", col]), exp), (col, out.loc["a", col])
    # b: 2, 4, 6 at ranks 0, .2, 1, 1.8, 2
    for col, exp in zip(cols, [2.0, 2.4, 4.0, 5.6, 6.0]):
        assert out.loc["b", col] == pytest.approx(exp, rel=1e-6), col


def test_nonfinite_group_rank_values(spark):
    df = spark.createDataFrame(_NONFINITE_ROWS, "g string, v double")
    out = (
        exact_group_rank_values(
            df, "g", "v", lambda n: {"r1": 1, "r2": 2, "rn1": n - 1, "rn": n}
        )
        .toPandas()
        .set_index("g")
    )
    for col, exp in zip(["r1", "r2", "rn1", "rn"], [-_INF, 1.0, _INF, _NAN]):
        assert _same(float(out.loc["a", col]), exp), (col, out.loc["a", col])
    assert list(out.loc["b", ["r1", "r2", "rn1", "rn"]]) == [2.0, 4.0, 4.0, 6.0]


def test_nonfinite_weighted_quantiles(spark):
    # cumulative weight: -inf 1, 1.0 3, 2.0 4, +inf 6
    rows = [(-_INF, 1.0), (1.0, 2.0), (2.0, 1.0), (_INF, 2.0)]
    df = spark.createDataFrame(rows, "v double, w double")
    qs = (0.0, 0.1, 0.5, 0.6, 0.9, 1.0)
    out = {
        r["q"]: r["wq"]
        for r in exact_weighted_quantiles(df, "v", "w", qs=qs).collect()
    }
    assert out == {0.0: -_INF, 0.1: -_INF, 0.5: 1.0, 0.6: 2.0, 0.9: _INF, 1.0: _INF}
    # a weighted NaN value sorts last, so only q=1 reaches it
    nan_df = spark.createDataFrame(rows + [(_NAN, 2.0)], "v double, w double")
    got = {
        r["q"]: r["wq"]
        for r in exact_weighted_quantiles(nan_df, "v", "w", qs=(0.75, 1.0)).collect()
    }
    assert got[0.75] == _INF and math.isnan(got[1.0])


@pytest.mark.parametrize("bad_w", [_NAN, _INF])
def test_weighted_quantiles_reject_nonfinite_weights(spark, bad_w):
    df = spark.createDataFrame([(1.0, 1.0), (2.0, bad_w), (3.0, 2.0)], "v double, wt double")
    with pytest.raises(ValueError, match="'wt'"):
        exact_weighted_quantiles(df, "v", "wt", qs=(0.5,))


def _spark_jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs (job group + statusTracker)."""
    sc = spark.sparkContext
    group = f"count-jobs-{random.random()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_weighted_quantiles_one_selection(spark):
    """Weighted selection costs what unweighted selection does on the
    same rows: pass 1 plus one fetch of the (small) finite block."""
    rng = random.Random(17)
    rows = [(float(rng.randint(0, 999)), float(rng.randint(1, 9))) for _ in range(5000)]
    df = spark.createDataFrame(rows, "v double, w double").withColumn("g", F.lit("x"))
    df.count()  # materialize the local relation outside the counted region
    weighted = _spark_jobs(
        spark, lambda: exact_weighted_quantiles(df, "v", "w", qs=(0.1, 0.5, 0.9))
    )
    unweighted = _spark_jobs(
        spark, lambda: exact_group_quantiles(df, "g", "v", qs=(0.1, 0.5, 0.9))
    )
    assert weighted == unweighted, (weighted, unweighted)


def test_group_guard_message():
    with pytest.raises(ValueError, match="driver-collect guard"):
        _check_group_guard(_MAX_GROUPS + 1, "exact_group_quantiles")


@pytest.mark.parametrize(
    "keys",
    [
        [("v", False), ("b", False), ("id", False)],
        [("v", True), ("id", False)],
        [("c", True), ("b", True), ("id", True)],
    ],
)
@pytest.mark.parametrize("n,k", [(3000, 10), (7, 10), (10, 10), (1, 4)])
def test_ntile_cuts_matches_shuffle_form(spark, keys, n, k):
    df = spark.createDataFrame(
        _rows(7, n), "id long, v double, b long, c double, g string"
    )
    order = [(F.col(nm).desc() if d else F.col(nm)) for nm, d in keys]
    old = (
        with_global_ntile(df, k, order, "bk")
        .select("id", "bk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    new = (
        with_global_ntiles_cuts(df, [(k, keys, "bk")])
        .select("id", "bk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert old.equals(new)


def test_ntile_cuts_multi_spec_batch(spark):
    df = spark.createDataFrame(
        _rows(13, 2500), "id long, v double, b long, c double, g string"
    )
    specs = [
        (4, [("v", False), ("id", False)], "r"),
        (4, [("b", False), ("id", False)], "f"),
        (4, [("c", True), ("id", False)], "m"),
    ]
    new = (
        with_global_ntiles_cuts(df, specs)
        .select("id", "r", "f", "m")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    old = df
    for k, keys, out in specs:
        order = [(F.col(nm).desc() if d else F.col(nm)) for nm, d in keys]
        old = with_global_ntile(old, k, order, out)
    old = (
        old.select("id", "r", "f", "m")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert old.equals(new)


def test_ntile_cuts_nan_falls_back(spark):
    rows = [(0, float("nan")), (1, 2.0), (2, 1.0), (3, 3.0)]
    df = spark.createDataFrame(rows, "id long, v double")
    old = (
        with_global_ntile(df, 2, [F.col("v"), F.col("id")], "bk")
        .select("id", "bk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    new = (
        with_global_ntiles_cuts(df, [(2, [("v", False), ("id", False)], "bk")])
        .select("id", "bk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert old.equals(new)  # identical because the fallback IS the old form


def test_ntile_cuts_long_keys_past_2_53(spark):
    """Longs at or above 2^53 collapse in a double proxy; such a spec
    must take the shuffle form and keep exact NTILE buckets."""
    df = spark.createDataFrame([(2**53 + i,) for i in range(8)], "k long")
    out = with_global_ntile_cuts(df, 4, [("k", False)], "d").orderBy("k")
    assert [r["d"] for r in out.collect()] == [1, 1, 2, 2, 3, 3, 4, 4]


def test_ntile_cuts_timestamp_key(spark):
    import datetime

    rows = [
        (i, datetime.datetime(2030, 1, 1) + datetime.timedelta(seconds=i % 97))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    old = (
        with_global_ntile(df, 4, [F.col("ts"), F.col("id")], "bk")
        .select("id", "bk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    new = (
        with_global_ntiles_cuts(df, [(4, [("ts", False), ("id", False)], "bk")])
        .select("id", "bk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert old.equals(new)
