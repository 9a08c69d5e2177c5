"""Seeded ZTBus-shaped fixture: 2 buses x 1 Hz telemetry plus trips.

The raw tables follow ``schemas.TELEMETRY`` and ``schemas.TRIPS`` (the
column notes in FIXTURES.md A1/A2): contiguous trips of about one hour
per bus, 19 service hours a day (05:00-24:00), dwell periods with exact
zero speed and open doors, and nullable GNSS channels. The same seed
gives byte-identical parquet files. Generation is numpy-only, so it is
input preparation and stays out of every timed or set-up figure; the
engine lays the table out afterwards (``layout``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = dt.datetime(2021, 3, 9, tzinfo=dt.timezone.utc)
SERVICE_START_S = 5 * 3600
SERVICE_END_S = 24 * 3600
# The dataset's own shape is 14 days; 2 keep the per-run layout write
# (part of set-up, repeated each run) affordable.
DAYS = 2
BUSES = (1, 2)
STOPS = tuple(f"Stop {c}" for c in "ABCDEFGHIJKL")
# The replay starts where the data starts: ticks_to_windows gets this.
EPOCH = FIRST_DAY + dt.timedelta(seconds=SERVICE_START_S)


def _arrow_schema(spark_schema) -> pa.Schema:
    """Arrow twin of a schemas.* StructType (UTC-adjusted timestamps, so
    Spark reads them back as TimestampType)."""
    kinds = {
        "LongType()": pa.int64(),
        "DoubleType()": pa.float64(),
        "StringType()": pa.string(),
        "BooleanType()": pa.bool_(),
        "TimestampType()": pa.timestamp("us", tz="UTC"),
    }
    return pa.schema(
        [pa.field(f.name, kinds[repr(f.dataType)], f.nullable) for f in spark_schema.fields]
    )


def _table(cols: dict, spark_schema, masks: dict | None = None) -> pa.Table:
    schema = _arrow_schema(spark_schema)
    masks = masks or {}
    arrays = [
        pa.array(_quantize(f.name, cols[f.name]), mask=masks.get(f.name)).cast(f.type)
        for f in schema
    ]
    return pa.Table.from_arrays(arrays, schema=schema)


def _quantize(name: str, v):
    """Sensor resolution: 1e-5 degrees for positions, 0.01 otherwise, so
    the table compresses like logged telemetry rather than white noise."""
    if not (isinstance(v, np.ndarray) and v.dtype == np.float64):
        return v
    return np.round(v, 5 if name.startswith(("gnss_lat", "gnss_lon")) else 2)


def _trips_for_bus(rng: np.random.Generator, days: int) -> list[tuple[int, int]]:
    """(start_s, end_s) offsets from FIRST_DAY, trips of 50-70 minutes
    tiling each service day."""
    out = []
    for d in range(days):
        t, end = d * 86400 + SERVICE_START_S, d * 86400 + SERVICE_END_S
        while t < end:
            n = int(rng.integers(50 * 60, 70 * 60))
            out.append((t, min(t + n, end)))
            t += n
    return out


def generate(seed: int, days: int) -> tuple[pa.Table, pa.Table]:
    """Build (telemetry, trips) as Arrow tables, sorted by time then bus."""
    from orca_ztbus_python_processor_spark.schemas import TELEMETRY, TRIPS  # noqa: PLC0415

    rng = np.random.default_rng(seed)
    trips = sorted(
        (start, bus, end) for bus in BUSES for start, end in _trips_for_bus(rng, days)
    )
    n_trips = len(trips)
    trip_start = np.array([t[0] for t in trips], dtype=np.int64)
    trip_bus = np.array([t[1] for t in trips], dtype=np.int64)
    trip_end = np.array([t[2] for t in trips], dtype=np.int64)
    trip_route = rng.integers(1, 6, n_trips).astype(np.int64)
    lengths = trip_end - trip_start

    # one row per bus-second inside each trip
    trip_idx = np.repeat(np.arange(n_trips), lengths)
    offset = np.arange(len(trip_idx)) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    t_s = trip_start[trip_idx] + offset
    order = np.lexsort((trip_bus[trip_idx], t_s))
    trip_idx, t_s = trip_idx[order], t_s[order]
    n = len(t_s)

    # speed: a per-trip cruise level with a stop-and-go cycle; dwell at
    # exact zero near each stop
    phase = rng.uniform(0, 2 * np.pi, n_trips)[trip_idx]
    period = rng.uniform(120, 240, n_trips)[trip_idx]
    cycle = np.sin(2 * np.pi * t_s / period + phase)
    cruise = rng.uniform(6, 14, n_trips)[trip_idx]
    speed = np.clip(cruise * (0.55 + 0.45 * cycle) + rng.normal(0, 0.4, n), 0, None)
    dwell = cycle < -0.85
    speed[dwell] = 0.0
    door = dwell & (rng.random(n) < 0.9)
    power = 40 + 9 * speed + rng.normal(0, 15, n)
    brake = np.where(np.diff(speed, prepend=speed[0]) < 0, rng.gamma(2.0, 8.0, n), 0.0)
    day_frac = (t_s % 86400) / 86400
    temp = 4 + 8 * np.sin(2 * np.pi * (day_frac - 0.3)) + rng.normal(0, 0.2, n)
    passengers = np.clip(
        np.round(40 + 30 * np.sin(2 * np.pi * day_frac) + rng.normal(0, 8, n)), 0, 120
    ).astype(np.int64)
    gnss_null = rng.random(n) < 0.02

    def wheel() -> np.ndarray:
        return np.clip(speed + rng.normal(0, 0.05, n), 0, None)

    cols: dict[str, object] = {
        "id": np.arange(1, n + 1, dtype=np.int64),
        "trip_id": trip_idx.astype(np.int64) + 1,
        "time": (FIRST_DAY.timestamp() + t_s).astype(np.int64) * 1_000_000,
        "electric_power_demand": power,
        "temperature_ambient": temp,
        "traction_brake_pressure": brake,
        "traction_traction_force": 3.0 * (power - 40) + rng.normal(0, 5, n),
        "gnss_altitude": 410 + rng.normal(0, 3, n),
        "gnss_course": rng.uniform(0, 360, n),
        "gnss_latitude": 47.37 + rng.normal(0, 0.01, n),
        "gnss_longitude": 8.54 + rng.normal(0, 0.01, n),
        "itcs_bus_route_id": trip_route[trip_idx],
        "itcs_number_of_passengers": passengers,
        "itcs_stop_name": np.array(STOPS, dtype=object)[rng.integers(0, len(STOPS), n)],
        "odometry_articulation_angle": rng.normal(0, 4, n),
        "odometry_steering_angle": rng.normal(0, 10, n),
        "odometry_vehicle_speed": speed,
        **{f"odometry_wheel_speed_{w}": wheel() for w in ("fl", "fr", "ml", "mr", "rl", "rr")},
        "status_door_is_open": door,
        "status_grid_is_available": rng.random(n) < 0.97,
        "status_halt_brake_is_active": speed == 0.0,
        "status_park_brake_is_active": dwell & (rng.random(n) < 0.05),
    }
    masks = {c: gnss_null for c in cols if c.startswith("gnss_")}
    telemetry = _table(cols, TELEMETRY, masks)

    # trip rollups consistent with the telemetry rows
    starts = np.searchsorted(np.sort(trip_idx, kind="stable"), np.arange(n_trips))
    by_trip = np.argsort(trip_idx, kind="stable")

    def per_trip(v: np.ndarray, fn) -> np.ndarray:
        return fn.reduceat(v[by_trip], starts)

    km = per_trip(speed, np.add) / 1000.0
    trips_cols = {
        "id": np.arange(1, n_trips + 1, dtype=np.int64),
        "name": np.array(
            [
                f"B{180 + b}_{(FIRST_DAY + dt.timedelta(seconds=int(s))).date()}_{i}"
                for i, (s, b) in enumerate(zip(trip_start, trip_bus))
            ],
            dtype=object,
        ),
        "bus_id": trip_bus,
        "route_id": trip_route,
        "start_time": (FIRST_DAY.timestamp() + trip_start).astype(np.int64) * 1_000_000,
        "end_time": (FIRST_DAY.timestamp() + trip_end - 1).astype(np.int64) * 1_000_000,
        "driven_distance_km": km,
        "energy_consumption_kwh": per_trip(power, np.add) / 3600.0,
        "itcs_passengers_mean": per_trip(passengers.astype(np.float64), np.add) / lengths,
        "itcs_passengers_min": per_trip(passengers, np.minimum),
        "itcs_passengers_max": per_trip(passengers, np.maximum),
        "grid_available_mean": per_trip(
            np.asarray(cols["status_grid_is_available"], dtype=np.float64), np.add
        ) / lengths,
        "amb_temperature_mean": per_trip(temp, np.add) / lengths,
        "amb_temperature_min": per_trip(temp, np.minimum),
        "amb_temperature_max": per_trip(temp, np.maximum),
    }
    return telemetry, _table(trips_cols, TRIPS)


def ensure(cache_dir: str, seed: int, days: int) -> str:
    """Raw fixture directory for ``seed`` (``telemetry_raw.parquet``,
    ``trips.parquet``), generated once and then reused."""
    out = os.path.join(cache_dir, f"seed{seed}_d{days}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        telemetry, trips = generate(seed, days)
        pq.write_table(telemetry, os.path.join(out, "telemetry_raw.parquet"), row_group_size=65536)
        pq.write_table(trips, os.path.join(out, "trips.parquet"))
        open(done, "w").close()
    return out
