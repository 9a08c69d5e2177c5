"""catalog_mix: a fixed sample of the batch query catalog, closed loop,
one client, on the sf0.01 test corpus.

The mix is ROADMAP's named optimisation targets (``NAMED_QUERIES``)
plus the first name (sorted) of each ``workloads`` module they leave out,
so every module is represented. Each query is timed from the ``fn()`` call
until its last row has reached the Python process (``toPandas``), and that
same output is checked against the query's DuckDB twin after the timed
pass.

The run times exactly one pass, cold and in name order, however long
``--seconds`` is: a fresh process pays plan building and code generation
per query shape, and which query pays for code shared with later ones
depends on the order, so a shuffled pass, or a mean over cold and warm
passes, would move per-query times from seed to seed and from change to
change. The inputs are the fixed test corpus, so the seed does not change
this workload.
"""

from __future__ import annotations

import hashlib
import importlib
import os
import time

from orca_ztbus_python_processor_spark.sources.parquet import DEFAULT_SF_DIR
from report import Result, latency_notes
from spans import Tracer

# the sf0.01 corpus beside the engine's default (sf0.1) one
SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.01")
CATALOG_MODULES = (
    "relational", "subqueries", "tpchplus", "timeseries", "textops", "vectors",
    "registrations", "ztbus", "streamqueries", "pipelineops",
)
# ROADMAP's named optimisation targets that fit the run budget: every
# family keeps at least one (order statistics, decontamination, the
# iterative graph family, Python-state streaming).
NAMED_QUERIES = (
    "gains_lift_deciles", "weighted_price_quantiles", "benchmark_decontam_13gram",
    "decontam_chunk_localization", "copurchase_triangle_count", "copurchase_kcore_summary",
    "copurchase_pagerank_topk", "stream_error_runs",
)
PYTHON_OPERATORS = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
    "MapInArrow", "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
    "FlatMapGroupsInArrow", "PythonUDTF",
)


def mix() -> dict[str, str]:
    """Query name -> workloads module it comes from."""
    out = {}
    for mod_name in CATALOG_MODULES:
        mod = importlib.import_module(f"orca_ztbus_python_processor_spark.workloads.{mod_name}")
        named = [n for n in NAMED_QUERIES if n in mod.CATALOG.queries]
        for name in named or [min(mod.CATALOG.queries)]:
            out[name] = mod_name
    return out


def oracle_error(name: str, got, sql: str | None, oracle: Oracle) -> str | None:
    """Compare one query's output with its DuckDB twin, as the oracle
    gate in tests/test_oracle_parity.py does; rows-only queries must
    return rows. Returns what differs, or None."""
    from tests.test_oracle_parity import normalize  # noqa: PLC0415

    if sql is None:
        return None if len(got) > 0 else f"{name}: rows-only query returned no rows"
    want = oracle.result(sql)
    if len(got) != len(want):
        return f"{name}: {len(got)} rows, oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns differ from the oracle"
    for col in got.columns:
        if got[col].dtype.kind != want[col].dtype.kind:
            return f"{name}.{col}: dtype kind {got[col].dtype.kind} vs {want[col].dtype.kind}"
    a, b = normalize(got), normalize(want)
    for col in a.columns:
        eq = (a[col] == b[col]) | (a[col].isna() & b[col].isna())
        if not eq.all():
            return f"{name}.{col}: {int((~eq).sum())} values differ from the oracle"
    return None


class Oracle:
    """DuckDB over the corpus, with each twin's result kept on disk: the
    reference answers depend only on the SQL and the read-only corpus,
    and the graph twins take DuckDB up to 15 s each."""

    def __init__(self, cache_dir: str) -> None:
        self.cache_dir = cache_dir
        self._con = None

    def __enter__(self) -> Oracle:
        os.makedirs(self.cache_dir, exist_ok=True)
        return self

    def __exit__(self, *exc) -> None:
        if self._con is not None:
            self._con.close()

    def result(self, sql: str):
        import pandas as pd  # noqa: PLC0415

        key = hashlib.sha256(f"{SF_DIR}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = self._connection().execute(sql).df()
        want.to_pickle(path)
        return want

    def _connection(self):
        if self._con is None:
            import duckdb  # noqa: PLC0415

            from orca_ztbus_python_processor_spark.schemas import CORPUS_TABLES  # noqa: PLC0415

            self._con = duckdb.connect()
            for table in CORPUS_TABLES:
                self._con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM '{SF_DIR}/{table}.parquet'"
                )
        return self._con


def catalog_mix(
    spark, work, run_dir, seed, seconds, tracer: Tracer, session_s, timed_done
) -> Result:
    """One cold pass over the mix; ``run_dir``, ``seed`` and ``seconds``
    do not change it."""
    from orca_ztbus_python_processor_spark.workloads.base import merged_catalog  # noqa: PLC0415

    catalog = merged_catalog()
    modules = mix()
    names = sorted(modules)
    # engine warm-up: the process's first Spark job and its first Python
    # stage, so the first query in the pass does not carry them
    t0 = time.perf_counter()
    spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(1, numPartitions=1).mapInPandas(lambda it: it, schema="id long").collect()
    setup_s = session_s + time.perf_counter() - t0

    # closed loop, one cold pass in name order: every query once
    lat_ms, outputs, per_query = [], {}, {}
    t_pass = time.perf_counter()
    for name in names:
        rec = _run_query(spark, catalog.queries[name], name, tracer)
        lat_ms.append(rec["total_s"] * 1e3)
        outputs[name] = rec.pop("out")
        per_query[name] = rec
    wall = time.perf_counter() - t_pass
    timed_done()

    errors = []
    with Oracle(os.path.join(work, "oracle")) as oracle:
        for name in sorted(outputs):
            err = oracle_error(name, outputs[name], catalog.oracles.get(name), oracle)
            if err:
                errors.append(err)
    attempted = len(lat_ms)
    failed = len(errors)
    e2e = {
        "setup_s": setup_s,
        "latency_mean_ms": sum(lat_ms) / attempted,
    }
    notes = [
        f"catalog_mix: {len(names)} queries at {SF_DIR}, "
        f"mix wall {wall:.2f} s, {len(outputs) - len(errors)} oracle-green",
    ]
    notes.append("query ms: " + " ".join(
        f"{n}={per_query[n]['total_s'] * 1e3:.0f}" for n in sorted(per_query, key=lambda n: per_query[n]["total_s"])
    ))
    notes += latency_notes("catalog_mix queries", lat_ms)
    layer = _catalog_layers(per_query, modules, wall, spark) if tracer.enabled else {}
    if tracer.enabled:
        layer["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return Result(e2e, layer, attempted, failed, errors, notes)


def _run_query(spark, fn, name: str, tracer: Tracer) -> dict:
    rec: dict = {}
    cg0 = tracer.codegen_ns() if tracer.enabled else 0
    t0 = time.perf_counter()
    with tracer.span("query", name):
        with tracer.span("workloads.build", name):
            df = fn(spark, SF_DIR)
        if tracer.enabled:
            rec["planner_ms"] = tracer.planner_ms(df)
            rec["python"] = tracer.timed_jvm(
                lambda: any(op in df._jdf.queryExecution().executedPlan().toString()
                            for op in PYTHON_OPERATORS)
            )
        with tracer.span("catalog.execute", name):
            rec["out"] = df.toPandas()
    rec["total_s"] = time.perf_counter() - t0
    if tracer.enabled:
        rec["codegen_ms"] = (tracer.codegen_ns() - cg0) / 1e6
        rec["spans"] = {s["name"]: s for s in tracer.by_trace(name)}
    return rec


def _catalog_layers(per_query: dict, modules: dict, wall: float, spark) -> dict[str, float]:
    def total(key: str) -> float:
        return sum(s[key] for r in per_query.values() for s in r["spans"].values())

    def dur(r: dict, span: str) -> float:
        s = r["spans"][span]
        return s["end"] - s["start"]

    cores = spark.sparkContext.defaultParallelism
    exec_s = sum(dur(r, "catalog.execute") for r in per_query.values())
    run_s = total("run_ms") / 1e3
    out = {
        "workloads.build_s": sum(dur(r, "workloads.build") for r in per_query.values()),
        "workloads.eager_jobs": sum(r["spans"]["workloads.build"]["jobs"] for r in per_query.values()),
        "catalog.jobs": total("jobs"),
        "catalog.stages": total("stages"),
        "catalog.tasks": total("tasks"),
        "catalog.planner_s": sum(r["planner_ms"] for r in per_query.values()) / 1e3,
        "catalog.codegen_compile_s": sum(r["codegen_ms"] for r in per_query.values()) / 1e3,
        "catalog.exec_s": exec_s,
        "catalog.executor_run_s": run_s,
        "catalog.executor_cpu_s": total("cpu_ms") / 1e3,
        "catalog.core_util": run_s / (wall * cores),
        "catalog.shuffle_write_mb": total("shuffle_write_bytes") / 1e6,
        "catalog.python_exec_s": sum(
            dur(r, "catalog.execute") for r in per_query.values() if r["python"]
        ),
    }
    for m in CATALOG_MODULES:
        out[f"catalog.module.{m}.s"] = sum(
            r["total_s"] for n, r in per_query.items() if modules[n] == m
        )
    for q in NAMED_QUERIES:
        out[f"query.{q}.s"] = per_query[q]["total_s"] if q in per_query else 0.0
    return out
