"""The reference trigger loop driven through the engine's public calls.

Per micro-batch of rate ticks: ``ticks_to_windows`` (inside
``foreachBatch``, so the rate source's due timestamps survive) ->
``read_table`` telemetry for the batch's half-open window range, joined
to trips -> ``compile_window_type`` for both active window types ->
``melt_results`` -> ``write_results`` append.

``trigger_open`` is an open loop: the ``rate`` source makes ticks due on
a fixed schedule whether or not the engine keeps up (each tick advances
event time by 60 s), and each tick is timed from its due time to the
commit of the batch that carried it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import fixture
import stats
from fixture import EPOCH
from report import Result, latency_notes
from spans import Tracer

# Two ticks a second (120x replay, each tick still one 60 s window):
# a 12 s run then times 24 ticks spread over each batch, where one tick a
# second leaves the mean latency at the mercy of how 12 ticks happen to
# fall against six batch boundaries.
TICKS_PER_SECOND = 2
STEP_SECONDS = 60
# Ticks due in the first WARMUP_S seconds ride the stream's first, colder
# batches and are not measured.
WARMUP_S = 8
WARMUP_TICKS = WARMUP_S * TICKS_PER_SECOND
# A measured tick not committed this long after the last one fell due
# counts as failed.
GRACE_S = 30.0
SETUP_REPS = 3


def window_results(
    spark: SparkSession, data_dir: str, lo: dt.datetime, hi: dt.datetime, tracer: Tracer, tid: str
) -> DataFrame:
    """Result rows of every window in ``[lo, hi)``, in the results-table
    shape (``window_start``, ``window_end``, ``algorithm``, ``version``,
    ``payload``) plus the value and window identity."""
    from orca_ztbus_python_processor_spark.plans.algorithms import proc  # noqa: PLC0415
    from orca_ztbus_python_processor_spark.plans.windows import (  # noqa: PLC0415
        EVERY_MINUTE,
        EVERY_MINUTE_PER_TRIP_PER_BUS,
    )
    from orca_ztbus_python_processor_spark.sources.parquet import read_table  # noqa: PLC0415

    with tracer.span("sources.read_table", tid):
        telemetry = read_table(spark, data_dir, "telemetry").where(
            (F.col("time") >= F.lit(lo)) & (F.col("time") < F.lit(hi))
        )
        trips = read_table(spark, data_dir, "trips").select(
            F.col("id").alias("trip_id"), "bus_id", "route_id"
        )
    with tracer.span("plans.compile_melt", tid):
        rows = telemetry.join(trips, "trip_id")
        melted = None
        for wt in (EVERY_MINUTE, EVERY_MINUTE_PER_TRIP_PER_BUS):
            m = proc.melt_results(proc.compile_window_type(rows, wt), wt)
            melted = m if melted is None else melted.unionByName(m)
        out = melted.select(
            F.col("window.time_from").alias("window_start"),
            F.col("window.time_to").alias("window_end"),
            "algorithm",
            "version",
            "payload",
            "value",
            F.col("window.name").alias("window_type"),
            F.col("window.metadata").alias("metadata"),
        )
    return out


def value_hash(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive hash). Doubles compare as float32, as the
    oracle gate does, so a different summation order cannot flip it."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.MapType):
            c = F.array_sort(
                F.transform(
                    F.map_entries(c), lambda e: F.struct(e["key"], e["value"].cast("float"))
                )
            )
        elif isinstance(f.dataType, T.DoubleType):
            c = c.cast("float")
        cols.append(c)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*"), F.sum("h")
    ).first()
    return int(row[0]), int(row[1] or 0)


def set_up(spark: SparkSession, raw_dir: str, run_dir: str, tracer: Tracer):
    """Lay the raw telemetry out with the engine's date-partitioned
    writer, SETUP_REPS times into fresh directories, then run the trigger
    plan once as a batch (engine warm-up). Returns the last layout's
    directory (holding ``telemetry.parquet`` and ``trips.parquet``), each
    layout write's seconds and the warm-up seconds."""
    from orca_ztbus_python_processor_spark.schemas import TELEMETRY  # noqa: PLC0415
    from orca_ztbus_python_processor_spark.sources.sinks import (  # noqa: PLC0415
        write_results,
        write_time_partitioned,
    )

    raw = spark.read.schema(TELEMETRY).parquet(os.path.join(raw_dir, "telemetry_raw.parquet"))
    layout_s, data_dir = [], ""
    for rep in range(SETUP_REPS):
        if data_dir:
            shutil.rmtree(data_dir)
        data_dir = os.path.join(run_dir, f"layout{rep}")
        os.makedirs(data_dir)
        shutil.copy(os.path.join(raw_dir, "trips.parquet"), data_dir)
        t0 = time.perf_counter()
        with tracer.span("sinks.write_time_partitioned", "setup"):
            write_time_partitioned(
                raw, os.path.join(data_dir, "telemetry.parquet"), time_col="time",
                sort_cols=("trip_id", "time"),
            )
        layout_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    lo, _ = _window_of(0)
    _, hi = _window_of(WARMUP_TICKS - 1)
    write_results(
        window_results(spark, data_dir, lo, hi, tracer, "setup"), os.path.join(run_dir, "warm")
    )
    return data_dir, layout_s, time.perf_counter() - t0


def _window_of(tick: int) -> tuple[dt.datetime, dt.datetime]:
    lo = EPOCH + dt.timedelta(seconds=tick * STEP_SECONDS)
    return lo, lo + dt.timedelta(seconds=STEP_SECONDS)


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3


class TriggerLoop:
    """State of one streaming run: what each batch carried and cost."""

    def __init__(
        self, spark: SparkSession, data_dir: str, out_dir: str, last_tick: int, tracer: Tracer
    ) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.results_dir = os.path.join(out_dir, "results")
        self.last_tick = last_tick
        self.tracer = tracer
        # batch id -> (tick, due ms) of every batch whose results are written
        self.batch_ticks: dict[int, list[tuple[int, int]]] = {}
        self.layer: dict[int, dict] = {}
        # set by the batch that writes the last measured tick: later
        # batches pass through without work, so stopping the query
        # interrupts no write
        self.closed = False

    def on_batch(self, batch: DataFrame, batch_id: int) -> None:
        from orca_ztbus_python_processor_spark.sources.sinks import write_results  # noqa: PLC0415
        from orca_ztbus_python_processor_spark.streaming.simulator import ticks_to_windows  # noqa: PLC0415

        if self.closed:
            return
        tr, tid = self.tracer, f"batch{batch_id}"
        cg0 = tr.codegen_ns() if tr.enabled else 0
        files0 = _parquet_files(self.results_dir) if tr.enabled else set()
        with tr.span("batch", tid):
            with tr.span("simulator.ticks_to_windows", tid):
                ticks = [
                    (r[0], r[1])
                    for r in batch.select("value", F.unix_millis("timestamp")).collect()
                ]
                if ticks:
                    lo_us, hi_us = ticks_to_windows(batch, EPOCH, STEP_SECONDS).agg(
                        F.min(F.unix_micros("time_from")), F.max(F.unix_micros("time_to"))
                    ).first()
            if not ticks:
                return
            results = window_results(self.spark, self.data_dir, _utc(lo_us), _utc(hi_us), tr, tid)
            planner = tr.planner_ms(results) if tr.enabled else 0.0
            with tr.span("sinks.write_results", tid):
                write_results(results, self.results_dir)
        self.batch_ticks[batch_id] = ticks
        self.closed = any(v >= self.last_tick for v, _ in ticks)
        if tr.enabled:
            new = _parquet_files(self.results_dir) - files0
            self.layer[batch_id] = {
                "planner_ms": planner,
                "codegen_ms": (tr.codegen_ns() - cg0) / 1e6,
                "files": len(new),
                "rows_written": tr.timed_jvm(lambda: _parquet_rows(new)),
            }

    def tick_due_ms(self) -> dict[int, int]:
        return {v: due for ticks in self.batch_ticks.values() for v, due in ticks}

    def commit_ms(self, progress: list) -> dict[int, float]:
        """Tick -> commit instant of its batch (trigger start + duration)."""
        out = {}
        for p in progress:
            ticks = self.batch_ticks.get(p.batchId)
            if ticks:
                done = _iso_ms(p.timestamp) + p.durationMs["triggerExecution"]
                for v, _ in ticks:
                    out[v] = done
        return out

    def check(self, ticks: list[int]) -> list[str]:
        """Outside the timed region: every tick carried exactly once, and
        the streamed results equal one batch run over the same range. The
        batch run holds each window's results once, so a window written
        twice, or lost, changes the row count and the hash."""
        errors = []
        carried = sorted(v for t in self.batch_ticks.values() for v, _ in t)
        if not carried:
            return ["no tick was processed"]
        if carried != list(range(carried[0], carried[-1] + 1)):
            errors.append("tick sequence has gaps or repeats")
        streamed = value_hash(self.spark.read.parquet(self.results_dir).drop("p_date"))
        lo, _ = _window_of(carried[0])
        _, hi = _window_of(carried[-1])
        batch = value_hash(
            window_results(self.spark, self.data_dir, lo, hi, Tracer(self.spark, False), "check")
        )
        if streamed != batch:
            errors.append(
                f"streamed results ({streamed[0]} rows) differ from the batch run ({batch[0]} rows)"
            )
        missing = set(ticks) - set(carried)
        if missing:
            errors.append(f"{len(missing)} measured ticks never processed")
        return errors


def _utc(micros: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(micros / 1e6, tz=dt.timezone.utc)


def _parquet_files(root: str) -> set[str]:
    out = set()
    for dirpath, _, files in os.walk(root):
        out.update(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def _parquet_rows(files: set[str]) -> int:
    import pyarrow.parquet as pq  # noqa: PLC0415

    return sum(pq.read_metadata(f).num_rows for f in files)


def run_open(spark: SparkSession, work: str, data_dir: str, seconds: int, tracer: Tracer) -> dict:
    """Run the open loop; returns raw observations for run.py to report."""
    measured = range(WARMUP_TICKS, WARMUP_TICKS + seconds * TICKS_PER_SECOND)
    last = measured[-1]
    loop = TriggerLoop(spark, data_dir, os.path.join(work, "open"), last, tracer)
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", TICKS_PER_SECOND)
        .load()
        .writeStream.foreachBatch(loop.on_batch)
        .option("checkpointLocation", os.path.join(work, "open", "checkpoint"))
        .start()
    )
    try:
        started = time.time()
        deadline = started + (last + 1) / TICKS_PER_SECOND + GRACE_S
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            done = [b for b, t in loop.batch_ticks.items() if any(v >= last for v, _ in t)]
            if done and q.lastProgress is not None and q.lastProgress.batchId >= min(done):
                break
            time.sleep(0.1)
        loop.closed = True
        progress = list(q.recentProgress)
    finally:
        q.stop()
    due, commit = loop.tick_due_ms(), loop.commit_ms(progress)
    lat, missed = stats.tick_latencies_ms(due, commit, measured)
    in_range = [p for p in progress if p.batchId in loop.batch_ticks
                and any(v in measured for v, _ in loop.batch_ticks[p.batchId])]
    return {
        "loop": loop,
        "measured": list(measured),
        "latencies_ms": lat,
        "missed": missed,
        "progress": in_range,
        "due": due,
        "commit": commit,
    }


def trigger_open(spark, work, run_dir, seed, seconds, tracer, session_s, timed_done) -> Result:
    raw_dir = fixture.ensure(os.path.join(work, "fixtures"), seed, fixture.DAYS)
    t0 = time.perf_counter()
    data_dir, layout_s, warm_s = set_up(spark, raw_dir, run_dir, tracer)
    setup_s = session_s + stats.median(layout_s) + warm_s
    t1 = time.perf_counter()
    obs = run_open(spark, run_dir, data_dir, seconds, tracer)
    loop = obs["loop"]
    t2 = time.perf_counter()
    timed_done()
    errors = loop.check(obs["measured"])
    t3 = time.perf_counter()
    lat, missed = obs["latencies_ms"], obs["missed"]
    attempted = len(obs["measured"])
    failed = attempted if errors else len(missed)
    e2e = {
        "setup_s": setup_s,
        "latency_mean_ms": sum(lat) / len(lat) if lat else GRACE_S * 1e3,
    }
    notes = [
        f"trigger_open: {attempted} ticks measured at {TICKS_PER_SECOND}/s, "
        f"{len(lat)} committed, {len(obs['progress'])} batches",
        f"phases: session {session_s:.1f} s, set-up {t1 - t0:.1f} s (layout "
        f"{', '.join(f'{x:.1f}' for x in layout_s)}; warm-up {warm_s:.1f}), "
        f"stream {t2 - t1:.1f} s, check {t3 - t2:.1f} s",
        "batch ms: " + " ".join(str(p.durationMs["triggerExecution"]) for p in obs["progress"]),
    ]
    if lat:
        notes += latency_notes("trigger_open ticks", lat)
    layer = _trigger_layers(obs, tracer, layout_s) if tracer.enabled else {}
    return Result(e2e, layer, attempted, failed, errors, notes)


def _trigger_layers(obs: dict, tracer: Tracer, layout_s: list[float]) -> dict[str, float]:
    loop, progress = obs["loop"], obs["progress"]
    batches = [p.batchId for p in progress]
    measured = set(obs["measured"])

    def per_batch(name: str) -> list[float]:
        out = []
        for b in batches:
            out += [(s["end"] - s["start"]) * 1e3 for s in tracer.by_trace(f"batch{b}")
                    if s["name"] == name]
        return out

    def totals(key: str) -> list[float]:
        return [sum(s[key] for s in tracer.by_trace(f"batch{b}")) for b in batches]

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    def med(xs: list[float]) -> float:
        return stats.median(xs) if xs else 0.0

    start_ms = {p.batchId: _iso_ms(p.timestamp) for p in progress}
    waits = [start_ms[b] - due for b in batches for v, due in loop.batch_ticks[b] if v in measured]
    rows_in = sum(totals("input_rows"))
    return {
        "streaming.queue_wait_ms_p50": med(waits),
        "streaming.batch_ms_p50": med([p.durationMs["triggerExecution"] for p in progress]),
        "streaming.ticks_per_batch": mean([p.numInputRows for p in progress]),
        "streaming.latest_offset_ms": med([p.durationMs.get("latestOffset", 0) for p in progress]),
        "streaming.add_batch_ms": med([p.durationMs.get("addBatch", 0) for p in progress]),
        "streaming.wal_commit_ms": med([p.durationMs.get("walCommit", 0) for p in progress]),
        "streaming.commit_offsets_ms": med([p.durationMs.get("commitOffsets", 0) for p in progress]),
        "streaming.backlog_ticks_max": stats.backlog_max(
            {t: d for t, d in obs["due"].items() if t in measured},
            {t: c for t, c in obs["commit"].items() if t in measured},
        ),
        "simulator.ticks_to_windows_ms": med(per_batch("simulator.ticks_to_windows")),
        "sources.read_ms": med(per_batch("sources.read_table")),
        "sources.scan_tasks_per_batch": mean(totals("scan_tasks")),
        "sources.input_mb_per_batch": mean(totals("input_bytes")) / 1e6,
        "sources.input_rows_per_batch": mean(totals("input_rows")),
        "plans.build_ms_per_batch": med(per_batch("plans.compile_melt")),
        "plans.planner_ms_per_batch": med([loop.layer[b]["planner_ms"] for b in batches]),
        "plans.jobs_per_batch": mean(totals("jobs")),
        "plans.stages_per_batch": mean(totals("stages")),
        "plans.tasks_per_batch": mean(totals("tasks")),
        "plans.executor_cpu_ms_per_krow": sum(totals("cpu_ms")) / (rows_in / 1e3) if rows_in else 0.0,
        "plans.shuffle_mb_per_batch": mean(totals("shuffle_write_bytes")) / 1e6,
        "plans.codegen_ms": mean([loop.layer[b]["codegen_ms"] for b in batches]),
        "sinks.write_ms_per_batch": med(per_batch("sinks.write_results")),
        "sinks.files_per_batch": mean([loop.layer[b]["files"] for b in batches]),
        "sinks.rows_written": sum(loop.layer[b]["rows_written"] for b in batches),
        "sinks.layout_write_s": stats.median(layout_s),
        "trace.bookkeeping_s": tracer.bookkeeping_s,
    }
