"""Hive-partitioned-layout query family (the reference's real workload
shape, under the hash oracle).

Every query here READS a ``dataproc=YYYYMMDD`` partitioned layout that
its own run materialized from the flat driver testdata
(``sources/hive_fixture.py``), so the partition write → discover →
pruned-read cycle of the reference
(``transform_stocks_job.py:32,211-213``) is what the hash actually
gates. Two oracle styles on purpose:

- flat-view oracles (``hive_prune_day``, ``hive_prune_range``,
  ``hive_incremental_cycle``) recompute the answer from the original
  ``events`` view — the round-trip through the partitioned layout must
  agree with never having left the flat table, which catches a wrong
  ``dataproc`` derivation on write AND a wrong pruned read;
- a ``read_parquet(..., hive_partitioning=true)`` oracle
  (``hive_partition_counts``) makes DuckDB read the directory tree
  itself — proving the layout is real, externally readable Hive
  partitioning, not something only our reader understands.

The oracle for ``hive_partition_counts`` hardcodes the sf0.01 fixture
path because ``oracle_sql()`` strings take no sf parameter; the driver's
correctness gate runs at sf0.01 only (BASELINE.md §3).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.sources.hive_fixture import (
    ensure_events_by_day,
    run_incremental_cycle,
)
from stockpy_spark.sources.readers import read_parquet

DAY = "20240115"
RANGE_LO, RANGE_HI = "20240110", "20240112"
INCR_DAYS = ["20240101", "20240102", "20240103"]
INCR_RERUN = "20240102"


def q_hive_prune_day(spark, sf_dir):
    """Single-day pruned read — the reference's most common query shape
    (read exactly today's partition: transform_stocks_job.py:32). The
    predicate is on the partition column, so Catalyst prunes to ONE
    directory at planning time (plan-tested in tests/test_hive_cycle.py);
    at 100 TB with years of partitions this is the difference between
    scanning ~1/1000th of the table and all of it."""
    path = ensure_events_by_day(spark, sf_dir)
    day = read_parquet(spark, path).where(F.col("dataproc") == int(DAY))
    return day.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


SQL_HIVE_PRUNE_DAY = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(value), 6) AS DOUBLE) AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE strftime(ts, '%Y%m%d') = '{DAY}'
GROUP BY event_type
"""


def q_hive_partition_counts(spark, sf_dir):
    """Whole-table per-partition profile over the materialized
    ``dataproc=YYYYMMDD`` layout: Spark reads the DIRECTORY TREE (so
    directory names as the partition column and row placement are what
    produce these groups) while the oracle independently re-derives
    the same profile from the flat events table — any row landing in
    the wrong partition directory hash-mismatches. The oracle used to
    read the fixture path with DuckDB's hive_partitioning reader, but
    that hard-coded the sf0.01 path and silently compared ACROSS
    scale factors when checked at any other SF (caught by the r10
    sf0.001 sparse sweep); the external-readability property that
    oracle carried now lives in
    test_hive_layout_externally_readable_by_duckdb, which builds the
    path dynamically."""
    path = ensure_events_by_day(spark, sf_dir)
    df = read_parquet(spark, path)
    return df.groupBy(F.col("dataproc").cast("long").alias("dataproc")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


SQL_HIVE_PARTITION_COUNTS = """
SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS dataproc,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(value), 6) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


def q_hive_prune_range(spark, sf_dir):
    """Multi-day range over the partition column — the backfill /
    re-aggregation shape. Still prunes (range predicates on partition
    columns resolve at planning time), still oracle-checked against the
    flat table."""
    path = ensure_events_by_day(spark, sf_dir)
    df = read_parquet(spark, path).where(
        (F.col("dataproc") >= int(RANGE_LO)) & (F.col("dataproc") <= int(RANGE_HI))
    )
    return df.groupBy(
        F.col("dataproc").cast("long").alias("dataproc"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


SQL_HIVE_PRUNE_RANGE = f"""
SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS dataproc,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(avg(value), 6) AS DOUBLE) AS avg_value
FROM events
WHERE strftime(ts, '%Y%m%d') BETWEEN '{RANGE_LO}' AND '{RANGE_HI}'
GROUP BY 1, 2
"""


def q_hive_incremental_cycle(spark, sf_dir):
    """Three simulated daily runs + one RERUN of the middle day through
    dynamic partition overwrite, per-day O(1) ``ADD PARTITION``
    registration, and a catalog read-back with a partition predicate
    (sources/hive_fixture.py:run_incremental_cycle). The flat-table
    oracle makes this an idempotence gate: a rerun that appended instead
    of replacing would double day-2's counts and flip the hash."""
    df = run_incremental_cycle(
        spark, sf_dir, INCR_DAYS, rerun_day=INCR_RERUN
    )
    return df.groupBy(F.col("dataproc").cast("long").alias("dataproc")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


SQL_HIVE_INCREMENTAL = f"""
SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS dataproc,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(round(sum(value), 6) AS DOUBLE) AS total_value
FROM events
WHERE strftime(ts, '%Y%m%d') IN ({", ".join(f"'{d}'" for d in INCR_DAYS)})
GROUP BY 1
"""


HIVE_QUERIES: dict[str, tuple] = {
    "hive_prune_day": (q_hive_prune_day, SQL_HIVE_PRUNE_DAY),
    "hive_partition_counts": (q_hive_partition_counts, SQL_HIVE_PARTITION_COUNTS),
    "hive_prune_range": (q_hive_prune_range, SQL_HIVE_PRUNE_RANGE),
    "hive_incremental_cycle": (q_hive_incremental_cycle, SQL_HIVE_INCREMENTAL),
}
