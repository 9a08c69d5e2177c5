"""Layout tests: the partitioned/bucketed write patterns must actually
produce prunable layouts — partition filters on the date-partitioned
table, zero exchanges on the co-bucketed join."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.sources.sinks import (
    write_bucketed_table,
    write_time_partitioned,
)

from tests.conftest import SMOKE_SF_DIR


def _plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_date_partitioned_write_prunes(spark, tmp_path):
    ev = read_table(spark, SMOKE_SF_DIR, "events")
    out = str(tmp_path / "events_by_date")
    write_time_partitioned(ev, out, time_col="ts", sort_cols=("user_id", "ts"))

    back = spark.read.parquet(out)
    assert back.count() == ev.count()

    narrowed = back.where(F.col("p_date") == "2024-01-03")
    plan = _plan(spark, narrowed)
    assert re.search(r"PartitionFilters: \[.*p_date.*\]", plan), plan
    # pruned scan reads fewer files than the full table
    assert narrowed.count() < ev.count()
    assert narrowed.count() > 0


def test_read_table_sees_partitioned_rewrite(spark, tmp_path):
    """read_table's memo must not serve a stale file listing after a
    date-partitioned table is rewritten in place: its top level holds
    only ``p_date=*/`` directories, so the nested part files have to
    count in the freshness signature."""
    def days(n: int):
        return spark.range(n * 10).select(
            F.col("id"),
            F.timestamp_seconds(F.lit(1_700_006_400) + (F.col("id") % n) * 86_400).alias("ts"),
        )

    path = str(tmp_path / "dated.parquet")
    write_time_partitioned(days(1), path, time_col="ts")
    assert read_table(spark, str(tmp_path), "dated").count() == 10
    write_time_partitioned(days(3), path, time_col="ts")
    assert read_table(spark, str(tmp_path), "dated").count() == 30


def test_bucketed_fused_minute_zero_exchange(spark):
    """The real workload on the bucketed layout: the registry-fused
    minute aggregation over user_id-bucketed events must plan with ZERO
    Exchange — the bucketed scan's HashPartitioning(user_id) satisfies
    the clustering of both the window prepare and the fused groupBy."""
    from orca_ztbus_python_processor_spark.workloads.registrations import (
        events_bucketed_fused_minute,
        registry_fused_minute,
    )

    fused = events_bucketed_fused_minute(spark, SMOKE_SF_DIR)
    try:
        plan = _plan(spark, fused)
        assert not re.search(r"\(\d+\) Exchange", plan), (
            "bucketed fused minute agg must not shuffle:\n" + plan
        )
        # and it computes the same result as the unbucketed twin
        a = fused.orderBy("time_from", "user_id").toPandas()
        b = (
            registry_fused_minute(spark, SMOKE_SF_DIR)
            .orderBy("time_from", "user_id")
            .toPandas()
        )
        assert a.equals(b)
    finally:
        from orca_ztbus_python_processor_spark.workloads.registrations import (
            bucketed_events_table,
        )

        tbl, _ = bucketed_events_table(SMOKE_SF_DIR)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_bucketed_join_no_exchange(spark, tmp_path):
    # managed tables land in the session's default warehouse; DROP TABLE
    # below removes the files
    ev = read_table(spark, SMOKE_SF_DIR, "events").select("event_id", "user_id", "value")
    cust = read_table(spark, SMOKE_SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    write_bucketed_table(ev, "ev_b", "user_id", n_buckets=4, sort_cols=("user_id",))
    write_bucketed_table(cust, "cust_b", "user_id", n_buckets=4, sort_cols=("user_id",))
    try:
        a = spark.table("ev_b")
        b = spark.table("cust_b")
        # disable broadcast so the co-bucketed SMJ path is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "user_id")
        plan = _plan(spark, joined)
        assert "SortMergeJoin" in plan, plan
        assert not re.search(r"\(\d+\) Exchange", plan), (
            "co-bucketed join must not shuffle:\n" + plan
        )
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS ev_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")
