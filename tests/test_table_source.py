"""The path-based table source (sources/readers.read_parquet): a table's
schema is inferred once per session and reused while its files and the
inference confs are unchanged, and every registry read goes through it."""

from __future__ import annotations

import glob
import os
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from stockpy_spark.sources.readers import read_parquet
from stockpy_spark.sources.testdata import read_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def jobs_of(spark, fn):
    """Number of Spark jobs ``fn`` launches. A one-job marker runs after
    it in the same job group; once the marker is visible on the status
    tracker, every earlier job of the group is too."""
    sc = spark.sparkContext
    group = f"table-source-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    deadline = time.monotonic() + 10
    while not ids and time.monotonic() < deadline:
        time.sleep(0.05)
        ids = tracker.getJobIdsForGroup(group)
    assert ids, "the marker job never reached the status tracker"
    return len(ids) - 1, out


def rows(df, col):
    return sorted(r[0] for r in df.select(col).collect())


def test_second_read_of_unchanged_path_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(50).withColumn("v", F.col("id") * 2).write.parquet(path)
    n_first, first = jobs_of(spark, lambda: read_parquet(spark, path))
    n_second, second = jobs_of(spark, lambda: read_parquet(spark, path))
    assert n_first >= 1  # the miss infers with a job
    assert n_second == 0
    assert second.schema == first.schema
    assert rows(second, "v") == [2 * i for i in range(50)]


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    """A table rewritten in place (same file name) with a wider int
    column, or with ``ts`` switched between TIMESTAMP(MICROS) and
    TIMESTAMP(NANOS), reads with its new schema and values."""
    d = tmp_path / "t"
    d.mkdir()
    f = str(d / "part-0.parquet")
    pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int32())}), f)
    assert read_parquet(spark, str(d)).dtypes == [("x", "int")]
    big = [2**40, 2**53 + 1, -7]
    pq.write_table(pa.table({"x": pa.array(big, pa.int64())}), f)
    df = read_parquet(spark, str(d))
    assert df.dtypes == [("x", "bigint")]
    assert rows(df, "x") == sorted(big)

    base_us = [1_600_000_000_000_000 + i * 1_000_000 for i in range(4)]
    micros = pa.table({"ts": pa.array(base_us, pa.timestamp("us"))})
    nanos = pa.table({"ts": pa.array([us * 1000 for us in base_us], pa.timestamp("ns"))})
    prev = spark.conf.get(NANOS_AS_LONG)
    spark.conf.set(NANOS_AS_LONG, "true")
    try:
        pq.write_table(micros, f)
        assert read_parquet(spark, str(d)).dtypes == [("ts", "timestamp_ntz")]
        pq.write_table(nanos, f)
        df = read_parquet(spark, str(d))
        assert df.dtypes == [("ts", "bigint")]
        assert rows(df, "ts") == [us * 1000 for us in base_us]
        pq.write_table(micros, f)
        assert read_parquet(spark, str(d)).dtypes == [("ts", "timestamp_ntz")]
    finally:
        spark.conf.set(NANOS_AS_LONG, prev)


def test_changed_inference_conf_is_inferred_again(spark, tmp_path):
    """Same files, different inference conf: the cached schema is not
    reused."""
    d = str(tmp_path / "t")
    # written without Spark's schema metadata, which would override the conf
    os.mkdir(d)
    pq.write_table(pa.table({"b": pa.array([b"0", b"1", b"2"], pa.binary())}), f"{d}/p.parquet")
    key = "spark.sql.parquet.binaryAsString"
    assert dict(read_parquet(spark, d).dtypes)["b"] == "binary"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = read_parquet(spark, d)
        assert dict(df.dtypes)["b"] == "string"
        assert rows(df, "b") == ["0", "1", "2"]
    finally:
        spark.conf.set(key, prev)
    assert dict(read_parquet(spark, d).dtypes)["b"] == "binary"


def test_read_events_follows_a_regenerated_ts_unit(spark, tmp_path):
    """The driver regenerating testdata with another ``ts`` unit: the
    same sf-dir read before and after gives the same timestamps."""
    base_us = [1_600_000_000_000_000 + i * 1_000_000 for i in range(4)]
    want = [us // 1_000_000 for us in base_us]
    f = str(tmp_path / "events.parquet")
    for ts in (
        pa.array(base_us, pa.timestamp("us")),
        pa.array([us * 1000 for us in base_us], pa.timestamp("ns")),
        pa.array(base_us, pa.timestamp("us")),
    ):
        pq.write_table(pa.table({"event_id": pa.array(range(4), pa.int64()), "ts": ts}), f)
        df = read_events(spark, str(tmp_path))
        got = rows(df.select(F.col("ts").cast("timestamp").cast("long").alias("t")), "t")
        assert got == want, (ts.type, got)


def test_partition_columns_survive_a_cached_read(spark, tmp_path):
    path = str(tmp_path / "by_day")
    spark.range(30).withColumn("day", (F.col("id") % 3).cast("int")).write.partitionBy(
        "day"
    ).parquet(path)
    first = read_parquet(spark, path)
    n, cached = jobs_of(spark, lambda: read_parquet(spark, path))
    assert n == 0
    assert cached.schema == first.schema
    assert cached.dtypes == [("id", "bigint"), ("day", "int")]
    day1 = cached.where(F.col("day") == 1)
    plan = day1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    assert rows(day1, "id") == [i for i in range(30) if i % 3 == 1]


def test_concurrent_reads_get_identical_schemas(spark, tmp_path):
    paths = []
    for k in range(3):
        p = str(tmp_path / f"t{k}")
        spark.range(10).withColumn(f"c{k}", F.col("id").cast("string")).write.parquet(p)
        paths.append(p)
    want = [spark.read.parquet(p).schema for p in paths]
    start = threading.Barrier(8)

    def read_all(_):
        start.wait()
        return [read_parquet(spark, p).schema for p in paths]

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(read_all, range(8), timeout=300))
    finally:
        sys.setswitchinterval(prev)
    assert got == [want] * 8
    # and the catalog now serves each path without a job
    n, again = jobs_of(spark, lambda: [read_parquet(spark, p).schema for p in paths])
    assert n == 0 and again == want


def test_registry_and_testdata_read_only_through_the_seam():
    """New queries must read tables through sources.readers.read_parquet
    (or sources.testdata._t), never with a bare spark.read.parquet that
    infers the schema on every call."""
    files = glob.glob(os.path.join(REPO, "stockpy_spark", "registry*.py"))
    files.append(os.path.join(REPO, "stockpy_spark", "sources", "testdata.py"))
    assert len(files) > 10
    offenders = [
        f"{os.path.relpath(f, REPO)}:{i}"
        for f in files
        for i, line in enumerate(open(f), 1)
        if "spark.read.parquet(" in line
    ]
    assert not offenders, offenders
