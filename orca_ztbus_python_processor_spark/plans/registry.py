"""Algorithm registry → fused-plan compiler.

The reference binds named, versioned algorithms to window types with a
decorator (``processor/main.py:342-343,449-450``) and executes them one
gRPC callback at a time, each re-reading its window's rows from
Postgres (SURVEY.md §3 EP2/EP3). This registry keeps the same
surface — ``@proc.algorithm(name, version, window_type)`` — but
*compiles* every algorithm bound to a window type into ONE fused
``groupBy(window(time), *keys).agg(...)`` plan, so N algorithms × M
derived windows cost a single pass over the data instead of N×M
rescans.

Execution model:
  - an algorithm contributes (a) optional ``prepare`` — row-level /
    window-function derived columns (e.g. the accel/jerk lag-diffs);
    a prepare that needs the window bucket partitions by the
    compiler-provided ``_time_from`` column so its shuffle is reused
    by the final aggregation — and (b) a dict of named aggregate
    Columns (StructResult) or a single Column (ValueResult).
  - a window type's spec — its aliased aggregate Columns, output
    names, prepares and melt projection — is built once per (window
    type, Spark JVM gateway) and reused by every trigger. Registering
    an algorithm drops that window type's spec. A trigger therefore
    costs a constant handful of plan-building calls however many
    algorithms are registered: the ``aggs()`` functions run once per
    session, not once per trigger.
  - ``compile_window_type`` is one ``_time_from`` projection, the
    prepares, one ``groupBy(...).agg`` and one final projection;
    output columns are named ``<algorithm>__<field>``.
  - ``melt_results`` is one ``selectExpr`` (``named_struct`` window,
    ``inline(array(...))`` of per-algorithm rows) that reshapes the
    wide frame into the reference's result-row shape (FIXTURES.md A5:
    window struct, algorithm, version, value, payload).

Scale: one shuffle per window type (on window start + keys), partial
aggregation map-side. Prepares that need ordering (lag) sort within
the (key, window) partition only — at 100 TB that partitioning matches
the storage layout (date-partitioned, key-bucketed), so the sort is
local.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame

from orca_ztbus_python_processor_spark.plans.windows import WindowType

PrepareFn = Callable[[DataFrame, str, tuple[str, ...]], DataFrame]
AggsFn = Callable[[], "dict[str, Column] | Column"]


@dataclass(frozen=True)
class Algorithm:
    name: str
    version: str
    window_type: WindowType
    aggs: AggsFn
    prepare: PrepareFn | None = None


@dataclass(frozen=True)
class _Spec:
    """Everything a trigger needs of one window type's algorithms."""

    prepares: tuple[PrepareFn, ...]
    agg_cols: tuple[Column, ...]  # aliased ``<algorithm>__<field>``
    out_names: tuple[str, ...]
    melt_exprs: tuple[str, str]  # window struct, one row per algorithm


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


class Processor:
    """Named algorithm registry (reference ``Processor("analyser")``,
    ``processor/main.py:26``)."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._algorithms: list[Algorithm] = []
        # (window type name, JVM gateway) -> spec; the aggregate Columns
        # are JVM objects, so a relaunched gateway gets its own entry
        self._specs: dict[tuple[str, object], _Spec] = {}
        self._lock = threading.Lock()

    # -- registration ------------------------------------------------------
    def algorithm(
        self,
        name: str,
        version: str,
        window_type: WindowType,
        prepare: PrepareFn | None = None,
    ) -> Callable[[AggsFn], AggsFn]:
        """Decorator mirroring ``@proc.algorithm(...)``
        (reference ``processor/main.py:342,449,474,518,547,577``).

        The decorated fn returns the algorithm's aggregate expressions
        instead of eagerly computing over a pandas frame.
        """

        def deco(fn: AggsFn) -> AggsFn:
            with self._lock:
                self._algorithms.append(Algorithm(name, version, window_type, fn, prepare))
                self._specs = {k: v for k, v in self._specs.items() if k[0] != window_type.name}
            return fn

        return deco

    def algorithms_for(self, window_type: WindowType) -> list[Algorithm]:
        return [a for a in self._algorithms if a.window_type.name == window_type.name]

    # -- compilation -------------------------------------------------------
    @staticmethod
    def _duration_us(duration: str) -> int:
        qty, unit = duration.split()
        scale = {
            "second": 1_000_000,
            "seconds": 1_000_000,
            "minute": 60_000_000,
            "minutes": 60_000_000,
            "hour": 3_600_000_000,
            "hours": 3_600_000_000,
        }[unit]
        return int(qty) * scale

    def _spec(self, df: DataFrame, window_type: WindowType) -> _Spec:
        key = (window_type.name, df.sparkSession.sparkContext._gateway)
        with self._lock:
            spec = self._specs.get(key)
            if spec is None:
                spec = self._specs[key] = self._build_spec(window_type)
        return spec

    def _build_spec(self, window_type: WindowType) -> _Spec:
        algs = self.algorithms_for(window_type)
        if not algs:
            raise ValueError(f"no algorithms registered for {window_type.name}")

        prepares: list[PrepareFn] = []
        agg_cols: list[Column] = []
        out_names: list[str] = []
        rows: list[str] = []
        for a in algs:
            if a.prepare is not None and a.prepare not in prepares:
                prepares.append(a.prepare)
            aggs = a.aggs()
            if isinstance(aggs, dict):
                names = {f: f"{a.name}__{f}" for f in aggs}
                agg_cols += [c.alias(names[f]) for f, c in aggs.items()]
                out_names += names.values()
                value = "CAST(NULL AS DOUBLE)"
                payload = "map(" + ", ".join(
                    f"{_sql_str(f)}, CAST({_ident(n)} AS DOUBLE)" for f, n in names.items()
                ) + ")"
            else:
                name = f"{a.name}__value"
                agg_cols.append(aggs.alias(name))
                out_names.append(name)
                value = f"CAST({_ident(name)} AS DOUBLE)"
                payload = "CAST(NULL AS MAP<STRING, DOUBLE>)"
            rows.append(
                f"named_struct('algorithm', {_sql_str(a.name)}, "
                f"'version', {_sql_str(a.version)}, 'value', {value}, 'payload', {payload})"
            )

        metadata = ", ".join(
            f"{_sql_str(k)}, CAST({_ident(k)} AS BIGINT)" for k in window_type.keys
        )
        window = (
            "named_struct('time_from', time_from, 'time_to', time_to, "
            f"'name', {_sql_str(window_type.name)}, "
            f"'version', {_sql_str(window_type.version)}, "
            f"'origin', {_sql_str(self.name)}, 'metadata', map({metadata})) AS window"
        )
        return _Spec(
            prepares=tuple(prepares),
            agg_cols=tuple(agg_cols),
            out_names=tuple(out_names),
            melt_exprs=(window, f"inline(array({', '.join(rows)}))"),
        )

    def compile_window_type(
        self,
        df: DataFrame,
        window_type: WindowType,
        time_col: str = "time",
        duration: str = "60 seconds",
    ) -> DataFrame:
        """Fuse every algorithm bound to ``window_type`` into one plan.

        Output: one row per (window, *keys); columns
        ``time_from, time_to, <keys...>, <alg>__<field>...``.

        The tumbling-window bucket is materialized ONCE as ``_time_from``
        (integer floor of epoch-micros — equivalent to
        ``F.window(time_col, duration).start``) and shared between the
        prepare window-functions and the final groupBy. Sharing the
        exact expression lets Catalyst satisfy the aggregation's
        distribution requirement with the prepare's shuffle — one
        Exchange total instead of two, which at 100 TB halves the
        shuffled volume of the fact table.
        """
        spec = self._spec(df, window_type)
        keys = window_type.keys
        dur_us = self._duration_us(duration)
        prepared = df.selectExpr(
            "*", f"timestamp_micros((unix_micros({time_col}) div {dur_us}) * {dur_us}) AS _time_from"
        )
        for prepare in spec.prepares:
            prepared = prepare(prepared, time_col, keys)
        return (
            prepared.groupBy("_time_from", *keys)
            .agg(*spec.agg_cols)
            .selectExpr(
                "_time_from AS time_from",
                f"_time_from + INTERVAL {dur_us} MICROSECONDS AS time_to",
                *[_ident(c) for c in (*keys, *spec.out_names)],
            )
        )

    def melt_results(self, fused: DataFrame, window_type: WindowType) -> DataFrame:
        """Wide fused frame → reference result rows (FIXTURES.md A5):
        ``window struct, algorithm, version, value, payload``."""
        return fused.selectExpr(*self._spec(fused, window_type).melt_exprs)
