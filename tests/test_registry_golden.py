"""Golden algorithm-parity tests: the fused registry plan must
reproduce, per (minute-window, trip), exactly what the reference's
pandas algorithms compute per window event (reference
``processor/main.py:449-598``; formulas re-derived here in pandas as
the independent oracle — SURVEY.md §5 strategy #2/#4).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orca_ztbus_python_processor_spark.plans.algorithms import proc
from orca_ztbus_python_processor_spark.plans.registry import Processor
from orca_ztbus_python_processor_spark.plans.windows import (
    EVERY_MINUTE,
    EVERY_MINUTE_PER_TRIP_PER_BUS,
)

T0 = dt.datetime(2021, 3, 9, 14, 15, 0)  # reference epoch, simulator/main.py:85-86


@pytest.fixture(scope="module")
def telemetry_fixture():
    """Deterministic 1 Hz micro-fixture: 2 trips × 300 s, exercising
    FIXTURES.md B2 (dwell conjunction cases, odd/even windows, n>=3),
    plus null speeds (a window's first and second row, two in a row) and
    a sparse third trip whose windows hold 1 or 2 rows."""
    rng = np.random.default_rng(42)
    frames = []
    for trip_id, bus_id, route_id in [(1, 1, 10), (2, 2, 11)]:
        n = 300
        times = [T0 + dt.timedelta(seconds=i) for i in range(n)]
        speed = np.abs(rng.normal(5, 3, n))
        speed[40:70] = 0.05  # dwell-eligible
        speed[100:110] = 0.0
        door = np.zeros(n, dtype=bool)
        door[35:60] = True  # overlaps dwell AND fast rows (conjunction test)
        door[100:105] = True
        frames.append(
            pd.DataFrame(
                {
                    "trip_id": trip_id,
                    "bus_id": bus_id,
                    "route_id": route_id,
                    "time": times,
                    "electric_power_demand": rng.normal(50, 80, n),
                    "temperature_ambient": rng.normal(12, 4, n),
                    "traction_brake_pressure": np.abs(rng.normal(2, 1, n)),
                    "odometry_articulation_angle": rng.normal(0, 8, n),
                    "odometry_vehicle_speed": speed,
                    "itcs_number_of_passengers": rng.integers(0, 120, n),
                    "status_door_is_open": door,
                }
            )
        )
    # null speeds (NaN lands as SQL NULL through Arrow): a window's first
    # row, its second row, and two rows in a row mid-window
    frames[0].loc[[60, 121, 200, 201], "odometry_vehicle_speed"] = np.nan
    # trip 3: windows of 1, 2, 2 (first row null) and 1 (null) rows
    secs = [30, 90, 95, 150, 170, 200]
    n = len(secs)
    frames.append(
        pd.DataFrame(
            {
                "trip_id": 3,
                "bus_id": 3,
                "route_id": 12,
                "time": [T0 + dt.timedelta(seconds=i) for i in secs],
                "electric_power_demand": rng.normal(50, 80, n),
                "temperature_ambient": rng.normal(12, 4, n),
                "traction_brake_pressure": np.abs(rng.normal(2, 1, n)),
                "odometry_articulation_angle": rng.normal(0, 8, n),
                "odometry_vehicle_speed": [1.0, 3.0, 4.5, np.nan, 2.0, np.nan],
                "itcs_number_of_passengers": rng.integers(0, 120, n),
                "status_door_is_open": [False, True, False, True, True, False],
            }
        )
    )
    return pd.concat(frames, ignore_index=True)


def _minute(ts: pd.Series) -> pd.Series:
    return ts.dt.floor("min")


def reference_results(pdf: pd.DataFrame) -> pd.DataFrame:
    """The reference's per-window pandas math, applied per (minute, trip)
    exactly as if each window event re-read its slice
    (processor/main.py:464-598)."""
    rows = []
    for (w, trip), df in pdf.groupby([_minute(pdf["time"]), "trip_id"]):
        df = df.sort_values("time")
        energy_kwh = (df["electric_power_demand"].fillna(0) / 3600.0).sum()
        dist_m = (df["odometry_vehicle_speed"].fillna(0) * 1.0).sum()
        total_km = dist_m / 1000.0
        passenger_km = (
            df["itcs_number_of_passengers"].fillna(0) * df["odometry_vehicle_speed"].fillna(0)
        ).sum() / 1000.0
        dwell = df[(df["status_door_is_open"]) & (df["odometry_vehicle_speed"] < 0.1)].shape[0]
        total = len(df)
        accel = df["odometry_vehicle_speed"].diff().fillna(0)
        jerk = accel.diff().fillna(0)
        rows.append(
            {
                "time_from": w,
                "trip_id": trip,
                "amb_50p": df["temperature_ambient"].median(),
                "kwh": energy_kwh,
                "kwh_per_km": energy_kwh / total_km if total_km > 0 else None,
                "kwh_per_passenger_km": energy_kwh / passenger_km if passenger_km > 0 else None,
                "dwell_time_s": float(dwell),
                "door_open_fraction": dwell / total if total > 0 else None,
                "mean_accel": accel.mean(),
                "std_accel": accel.std(),
                "jerk_95p": jerk.quantile(0.95),
                "articulation_var": df["odometry_articulation_angle"].var(),
                "brake_pressure_mean": df["traction_brake_pressure"].mean(),
            }
        )
    return pd.DataFrame(rows).sort_values(["time_from", "trip_id"]).reset_index(drop=True)


def test_fused_plan_matches_reference_pandas(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    fused = (
        proc.compile_window_type(sdf, EVERY_MINUTE_PER_TRIP_PER_BUS, "time", "60 seconds")
        .toPandas()
        .sort_values(["time_from", "trip_id"])
        .reset_index(drop=True)
    )
    expected = reference_results(telemetry_fixture)

    assert len(fused) == len(expected)
    pairs = [
        ("AmbientTemperature__50p", "amb_50p"),
        ("EnergyEfficiencyPerMinute__kwh", "kwh"),
        ("EnergyEfficiencyPerMinute__kwh_per_km", "kwh_per_km"),
        ("EnergyEfficiencyPerMinute__kwh_per_passenger_km", "kwh_per_passenger_km"),
        ("ServiceEfficiencyPerMinute__dwell_time_s", "dwell_time_s"),
        ("ServiceEfficiencyPerMinute__door_open_fraction", "door_open_fraction"),
        ("ComfortAndSafetyPerMinute__mean_accel", "mean_accel"),
        ("ComfortAndSafetyPerMinute__std_accel", "std_accel"),
        ("ComfortAndSafetyPerMinute__jerk_95p", "jerk_95p"),
        ("AssetStressPerMinute__articulation_var", "articulation_var"),
        ("AssetStressPerMinute__brake_pressure_mean", "brake_pressure_mean"),
    ]
    for fused_col, exp_col in pairs:
        got = fused[fused_col].astype(float).to_numpy()
        exp = expected[exp_col].astype(float).to_numpy()
        np.testing.assert_allclose(got, exp, rtol=1e-9, atol=1e-12, err_msg=fused_col)


def test_every_minute_value_result(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    fused = proc.compile_window_type(sdf, EVERY_MINUTE, "time", "60 seconds").toPandas()
    # trips 1 and 2 are active every minute of the fixture, trip 3 in
    # the first four
    assert fused.sort_values("time_from")["FindActiveBusses__value"].tolist() == [3, 3, 3, 3, 2]
    assert len(fused) == 5  # 300 s / 60 s


def test_find_active_busses_is_count_distinct(spark, telemetry_fixture):
    """size(collect_set) stays a bigint and skips null trip_ids exactly
    as countDistinct does."""
    sdf = spark.createDataFrame(telemetry_fixture).withColumn(
        "trip_id",
        F.when(F.second("time") % 7 == 0, F.lit(None)).otherwise(F.col("trip_id")),
    )
    fused = proc.compile_window_type(sdf, EVERY_MINUTE, "time", "60 seconds")
    assert fused.schema["FindActiveBusses__value"].dataType == T.LongType()
    got = fused.select("time_from", "FindActiveBusses__value").orderBy("time_from").collect()
    want = (
        sdf.groupBy(F.date_trunc("minute", "time").alias("time_from"))
        .agg(F.countDistinct("trip_id").alias("n"))
        .orderBy("time_from")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _melted_schema(metadata: T.MapType, value_null: bool, payload_null: bool) -> T.StructType:
    window = T.StructType(
        [
            T.StructField("time_from", T.TimestampType()),
            T.StructField("time_to", T.TimestampType()),
            T.StructField("name", T.StringType(), False),
            T.StructField("version", T.StringType(), False),
            T.StructField("origin", T.StringType(), False),
            T.StructField("metadata", metadata, False),
        ]
    )
    return T.StructType(
        [
            T.StructField("window", window, False),
            T.StructField("algorithm", T.StringType(), False),
            T.StructField("version", T.StringType(), False),
            T.StructField("value", T.DoubleType(), value_null),
            T.StructField("payload", T.MapType(T.StringType(), T.DoubleType()), payload_null),
        ]
    )


def test_melt_results_shape(spark, telemetry_fixture):
    sdf = spark.createDataFrame(telemetry_fixture)
    fused = proc.compile_window_type(sdf, EVERY_MINUTE_PER_TRIP_PER_BUS, "time")
    melted = proc.melt_results(fused, EVERY_MINUTE_PER_TRIP_PER_BUS)
    pdf = melted.toPandas()
    # 5 algorithms × 14 (window, trip) groups
    assert len(pdf) == 5 * 14
    assert set(pdf["algorithm"].unique()) == {
        "AmbientTemperature",
        "EnergyEfficiencyPerMinute",
        "ServiceEfficiencyPerMinute",
        "ComfortAndSafetyPerMinute",
        "AssetStressPerMinute",
    }
    row = pdf[pdf["algorithm"] == "AmbientTemperature"].iloc[0]
    assert row["window"]["name"] == "EveryMinutePerTripPerBus"
    assert set(row["window"]["metadata"].keys()) == {"trip_id", "bus_id", "route_id"}
    assert pd.isna(row["value"]) and "50p" in row["payload"]

    # the full melted schema of both window types and of their union,
    # nullability included: the results table is appended across
    # triggers, so it must not drift
    minute = proc.melt_results(proc.compile_window_type(sdf, EVERY_MINUTE, "time"), EVERY_MINUTE)
    assert minute.schema == _melted_schema(
        T.MapType(T.NullType(), T.NullType(), False), value_null=False, payload_null=True
    )
    assert melted.schema == _melted_schema(
        T.MapType(T.StringType(), T.LongType()), value_null=True, payload_null=False
    )
    assert minute.unionByName(melted).schema == _melted_schema(
        T.MapType(T.StringType(), T.LongType()), value_null=True, payload_null=True
    )


def test_window_spec_built_once_per_session(spark, telemetry_fixture):
    """A window type's aggregate Columns and melt layout are built once
    and reused by every trigger; registering an algorithm rebuilds them."""
    p = Processor("spec_probe")
    calls = []

    @p.algorithm("MeanSpeed", "1.0.0", EVERY_MINUTE)
    def mean_speed():
        calls.append("MeanSpeed")
        return {"mean": F.avg("odometry_vehicle_speed")}

    sdf = spark.createDataFrame(telemetry_fixture)
    for _ in range(2):
        p.melt_results(p.compile_window_type(sdf, EVERY_MINUTE), EVERY_MINUTE)
    assert calls == ["MeanSpeed"]

    @p.algorithm("MaxSpeed", "1.0.0", EVERY_MINUTE)
    def max_speed():
        calls.append("MaxSpeed")
        return F.max("odometry_vehicle_speed")

    fused = p.compile_window_type(sdf, EVERY_MINUTE)
    assert fused.columns == ["time_from", "time_to", "MeanSpeed__mean", "MaxSpeed__value"]
    melted = p.melt_results(fused, EVERY_MINUTE).collect()
    assert calls == ["MeanSpeed", "MeanSpeed", "MaxSpeed"]
    assert {r["algorithm"] for r in melted} == {"MeanSpeed", "MaxSpeed"}
    assert len(melted) == 2 * 5
