"""SparkSession builder with scale-conscious defaults.

The reference (scripts/extract_stocks_job.py:24-30 in /root/reference)
takes whatever Spark conf AWS Glue hands it. We instead pin the handful of
settings that matter both for local correctness testing and for a real
multi-executor cluster:

- AQE on (runtime coalescing of shuffle partitions + skew-join splitting)
  so the same plan survives a 100x scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a cluster AQE's coalescing makes the static number mostly moot.
- Session timezone pinned to UTC — Spark timestamps are session-tz-relative
  while parquet/DuckDB store UTC-naive micros; pinning makes results
  byte-comparable against the DuckDB oracle and reproducible across hosts.
- Arrow enabled for every pandas boundary (createDataFrame, toPandas,
  pandas UDFs).
- A codegen cache large enough for every class the registry generates,
  so a plan run again in the same session compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_conf_defaults(cpus: int | None = None) -> dict[str, str]:
    """Engine-default Spark conf as a plain dict (testable, composable)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return {
        # 4x the core count, not 1x: measured at both sf0.1 and the
        # synthetic sf1 (tools/scale_check.py), 128 partitions on 32
        # cores beats 32 by ~25% at sf0.1 (14.5s -> 11.1s headline
        # subset) and ~35% on the worst sf1 queries (q3 5.9s -> 3.8s
        # extrapolating to 256) — smaller shuffle blocks overlap
        # fetch/compute better and AQE coalesces them away wherever a
        # stage is small, so the finer grain costs nothing. Matches the
        # standard cluster guidance of 2-4x total cores.
        "spark.sql.shuffle.partitions": str(cpus * 4),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # Write timestamps as TIMESTAMP(MICROS), not the deprecated
        # INT96: INT96 defeats min/max pruning in some readers and is
        # reported as nanos by Arrow, confusing unit sniffers.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Idempotent partition-level reruns (fixes the reference's
        # append-duplication bug, extract_stocks_job.py:375-393).
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.ui.enabled": "false",
        # Janino compiles a generated class once while it stays in this
        # LRU cache (~5 ms a class on 4 cores). Spark's default of 100
        # entries is smaller than one pass of the engine's own plans,
        # so each rerun of a plan recompiled all its classes. Working
        # sets, counted with CodegenMetrics at sf0.01:
        # pipeline_data_release 235-240 classes; a perfbench pass of
        # sql_analytics 189, llm_curation 301, etl_daily_batch 122; the
        # whole 257-query registry in one session 3541
        # (tools/ledger_full.py re-measures it). 4096 holds the
        # registry, and a repeated plan compiles nothing. Cost of the
        # full registry held: +28 MB metaspace, +110 MB live heap.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # Auto-broadcast stays at Spark's 10MB default. Round 6 traced
        # q3/q18's chronic 3.2-3.6x 10x-scale ratios to an earlier 64MB
        # override: at sf1 it broadcast the FILTERED LINEITEM (97% of
        # the fact survives q3's shipdate predicate — a ~5.8M-row hash
        # relation whose build/ship cost grows linearly with SF and
        # never parallelizes). With the default, q3 at sf1 runs 3.29 ->
        # 1.37 s and its scale ratio drops to ~1.4x; the sf0.1 cost is
        # +8% on the borderline dims that now sort-merge (BASELINE.md
        # §4). Dims that MUST broadcast are hinted explicitly in the
        # queries — the threshold is the safety net, and a 100 TB
        # safety net must not catch facts.
    }


def get_spark(
    app_name: str = "stockpy_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` after setting --master via spark-submit, or pass
    an explicit master URL.

    Static confs (``spark.driver.memory``,
    ``spark.sql.codegen.cache.maxEntries``) take effect only when this
    call starts the JVM; on a live session ``getOrCreate`` keeps them.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = spark_conf_defaults()
    if master.startswith("local"):
        # Local mode inherits Spark's 1g driver default, which cannot
        # build a 64MB-threshold broadcast relation (~10x in-memory as
        # a hash relation) — found by the sf1 scale spot-check, where
        # the planner's auto-broadcast of a filtered-but-growing side
        # OOM'd the driver while the plan itself was fine. On a real
        # cluster the driver is sized explicitly; do the same locally.
        # Only effective for a fresh JVM (getOrCreate reuses existing).
        conf["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
