"""Helpers for the driver-generated TPC-H-ish test tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from stockpy_spark.sources.readers import read_parquet


def _ts_unit_is_nanos(path: str) -> bool | None:
    """Sniff the parquet footer driver-side (pyarrow, ~ms) so we never
    launch a Spark job that PARQUET_TYPE_ILLEGAL will abort. None =
    could not determine (fall back to try/except on the Spark read)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if not parts:
                return None
            path = os.path.join(path, parts[0])
        t = pq.read_schema(path).field("ts").type
        return pa.types.is_timestamp(t) and t.unit == "ns"
    except Exception:
        return None


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table robustly across parquet timestamp units.

    The driver-generated events.parquet stores ``ts`` as
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects by default
    (PARQUET_TYPE_ILLEGAL). Detect that from the footer and read with
    the legacy nanos-as-long mode, rebuilding a micros timestamp
    (ns -> us floor division — the same truncation DuckDB/Arrow apply
    when narrowing ns to us).
    """
    from pyspark.sql import functions as F

    path = f"{sf_dir}/events.parquet"
    nanos = _ts_unit_is_nanos(path)
    if nanos is None:
        try:
            df = read_parquet(spark, path)
            if dict(df.dtypes).get("ts") == "timestamp":
                return df
        except Exception:
            pass
    elif not nanos:
        return read_parquet(spark, path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    if dict(df.dtypes).get("ts") == "timestamp":
        # INT96 columns: Arrow's footer schema reports them as nanos,
        # but Spark decodes them as real timestamps (nanosAsLong only
        # affects TIMESTAMP(NANOS) annotations) — nothing to rebuild.
        return df
    # integer division — float division loses precision at ~1e18 ns
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One test table of ``sf_dir`` by name; ``events`` gets
    :func:`read_events`' timestamp-unit handling."""
    if name == "events":
        return read_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {t: _t(spark, sf_dir, t) for t in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    for t, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(t)
