"""Batch parquet catalog over the driver corpus.

Spark's parquet source gives predicate pushdown, column pruning,
row-group skipping and a vectorized reader for free — the reference's
hand-assembled SELECT strings (reference ``processor/main.py:91-144``)
collapse into ``spark.read.parquet(...).where(...)``.

100 TB posture: at scale the same tables would live as a
date-partitioned / key-bucketed layout (see ``docs/SCALE.md``); the
loader only binds paths, so swapping in a partitioned root or a catalog
table is a one-line change.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.schemas import CORPUS_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _stat_signature(path: str) -> tuple:
    """Freshness signature for a table path used in memo keys.

    For a directory table this folds EVERY part file's (name, size,
    mtime_ns) — not just the first sorted part — so a rewrite/append
    that leaves parts[0] byte-identical still invalidates the memo
    (ADVICE r12: a stale plan would otherwise serve a frozen file
    listing that misses new parts or reads dropped ones). Part files
    under partition directories (``p_date=*/``, as
    ``sinks.write_time_partitioned`` lays a table out) are folded in
    with their relative path, so rewriting a partitioned table
    invalidates the memo too."""
    if os.path.isdir(path):
        sig = []
        for root, dirs, files in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            rel = os.path.relpath(root, path)
            for p in sorted(files):
                if p.endswith(".parquet") and not p.startswith(("_", ".")):
                    st = os.stat(os.path.join(root, p))
                    sig.append((os.path.join(rel, p), st.st_size, st.st_mtime_ns))
        return tuple(sig)
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


def _sniff_file(path: str) -> str:
    """The concrete parquet file whose footer carries the ts type."""
    if os.path.isdir(path):  # Spark-written table: sniff any part file
        parts = sorted(
            p for p in os.listdir(path)
            if p.endswith(".parquet") and not p.startswith(("_", "."))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return os.path.join(path, parts[0])
    return path


@lru_cache(maxsize=64)
def _events_ts_arrow_type_cached(f: str, size: int, mtime_ns: int) -> str:
    return str(pq.read_schema(f).field("ts").type)


def _events_ts_arrow_type(path: str) -> str:
    """Arrow type string of ``events.ts`` straight from the parquet
    footer (one footer read per file GENERATION, process-memoized —
    every batch and stream constructor shares this instead of paying a
    Spark file listing + schema inference per call). The cache key
    includes the file's (size, mtime_ns) so a fixture rewritten
    in-process with a different timestamp generation re-sniffs instead
    of silently misrouting the ns/us normalization."""
    f = _sniff_file(path)
    st = os.stat(f)
    return _events_ts_arrow_type_cached(f, st.st_size, st.st_mtime_ns)


def events_ts_is_nanos(sf_dir: str) -> bool:
    """True iff ``events.ts`` is parquet TIMESTAMP(NANOS) in this
    testdata generation.

    The footer logical type is authoritative. Inferring from the loaded
    Spark dtype (the pre-round-4 behavior) could not distinguish
    TIMESTAMP(NANOS) from a bare INT64 epoch-micros column — both
    surface as ``bigint`` under ``nanosAsLong`` — and would silently
    divide the latter by 1000, corrupting every timestamp 1000x. An
    un-annotated integer column now raises instead of guessing.
    """
    t = _events_ts_arrow_type(table_path(sf_dir, "events"))
    # prefix match: tz-annotated nanos renders as "timestamp[ns, tz=UTC]"
    # and is STILL loaded as bigint under nanosAsLong — an exact-match
    # here would misroute it to the micros cast path (int64 interpreted
    # as epoch-SECONDS, silent garbage).
    if t.startswith("timestamp[ns"):
        return True
    if t.startswith("timestamp"):  # timestamp[us]/[ms], with or without tz
        return False
    raise ValueError(
        f"events.ts has parquet physical type {t!r}; expected a TIMESTAMP "
        "logical annotation (ns or us). Refusing to guess an epoch unit "
        "for a bare integer column."
    )


def normalize_events_ts(df: DataFrame, is_nanos: bool) -> DataFrame:
    """Land ``ts`` as a session-tz ``TimestampType`` for either physical
    layout; batch and stream readers share this so they cannot drift.

    NANOS generation: Spark's reader rejects TIMESTAMP(NANOS), so it is
    read as raw int64 ns via ``nanosAsLong`` and truncated ns→us with
    integer division, matching DuckDB's reader. Micros generation: the
    column arrives as ``timestamp`` or ``timestamp_ntz``; the cast from
    NTZ yields the same instants as the oracle only because
    ``ensure_engine_confs`` pins the session timezone to UTC — if that
    invariant is ever relaxed, this cast must become an explicit
    ``to_utc_timestamp``.
    """
    if is_nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


# Per-session memo of ANALYZED table DataFrames. A DataFrame here is a
# lazy plan (file listing + parquet footer schema resolved once) — NO
# data or results are cached; every action still scans the parquet
# files in full. ``spark.read.parquet`` costs ~90 ms per call even warm
# (DataSource resolution: listing, footer schema read, analysis RPCs),
# which a query engine serving a catalog pays once per table per
# session, not once per query (round-12 optimization; the same
# metadata-caching posture as Spark's own catalog tables /
# FileStatusCache). Keyed by (application id, resolved path, stat
# signature of EVERY part file): a fixture rewritten in place — the
# scale scripts and tests do this — re-resolves instead of serving a
# stale file snapshot, and a new Spark application never sees another
# session's plans.
_TABLE_MEMO: dict[tuple, DataFrame] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table, normalizing physical-type quirks.

    ``events.ts`` has shipped in two physical layouts across driver
    testdata generations (TIMESTAMP nanos vs micros); the footer-level
    ``events_ts_is_nanos`` sniff + ``normalize_events_ts`` handle both,
    landing the column as a session-tz (UTC) ``TimestampType``.

    Sessions built by ``session.get_spark`` already carry the engine's
    session-wide confs (UTC timezone, nanosAsLong); for a caller-owned
    session (the verification driver's) they are applied here once via
    ``ensure_engine_confs`` — a documented session-wide requirement of
    the engine, not a hidden per-read toggle.
    """
    from orca_ztbus_python_processor_spark.session import ensure_engine_confs  # noqa: PLC0415

    ensure_engine_confs(spark)
    path = table_path(sf_dir, name)
    try:
        key = (
            spark.sparkContext.applicationId,
            os.path.realpath(path),
            _stat_signature(path),
        )
    except OSError:
        key = None  # unstat-able path: let spark.read surface the error
    if key is not None:
        memo = _TABLE_MEMO.get(key)
        if memo is not None:
            return memo
    if name == "events":
        df = normalize_events_ts(spark.read.parquet(path), events_ts_is_nanos(sf_dir))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    else:
        df = spark.read.parquet(path)
    if key is not None:
        if len(_TABLE_MEMO) > 256:  # bound growth across many fixtures
            _TABLE_MEMO.clear()
        _TABLE_MEMO[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every corpus table as a DataFrame (lazy; nothing is read yet)."""
    return {name: read_table(spark, sf_dir, name) for name in CORPUS_TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load and register each table as a temp view for the SQL API."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
