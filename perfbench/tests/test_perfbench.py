"""Tests of the benchmark's own parts: span arithmetic, the status-store
collector, the input generator and the ETL check.

Run from the repo root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
from spans import Span, Tracer, covered, self_seconds  # noqa: E402


def _span(i, a, b, parent=None):
    return Span(i, f"s{i}", "x", a, b, parent)


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 1), (2, 3)]) == 2
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(1, 4), (2, 3)]) == 3


def test_self_time_subtracts_children_once_and_clips_them():
    parent = _span(0, 10.0, 20.0)
    kids = [_span(1, 11.0, 13.0, 0), _span(2, 12.0, 14.0, 0), _span(3, 19.0, 25.0, 0)]
    # children cover 11-14 and 19-20 inside the parent: 4 s of 10
    assert self_seconds(parent, kids) == pytest.approx(6.0)
    assert self_seconds(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_by_stack():
    tr = Tracer("t")
    with tr.span("outer", "op") as outer:
        with tr.span("inner", "registry") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert tr.children(outer) == [inner]
    assert 0 <= self_seconds(outer, [inner]) <= outer.seconds


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_generator_is_byte_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_inputs(a, 7, 0.001, 50, 20)
    gen.write_inputs(b, 7, 0.001, 50, 20)
    gen.write_inputs(c, 8, 0.001, 50, 20)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_etl_copy_shifts_keys_per_copy():
    t = gen.etl_events(3, 200, factor=3)
    assert t.num_rows == 600
    ids = t["event_id"].to_pylist()
    assert len(set(ids)) == 600
    assert {i // gen.KEY_OFFSET for i in ids} == {0, 1, 2}


def _write_lake(lake, src, day):
    """A raw and a refined zone for ``day`` written by DuckDB from the
    expected rows, in Spark's Hive layout."""
    from workloads import N_SILENT, N_TICKERS, expected_refined_sql

    os.makedirs(lake)
    con = duckdb.connect()
    con.execute(
        f"COPY ({expected_refined_sql(src, day)}) TO '{lake}/refined' "
        "(FORMAT PARQUET, PARTITION_BY (dataproc, setor))")
    con.execute(
        f"COPY (SELECT range AS n, '{day}' AS dataproc FROM range({N_TICKERS + N_SILENT})) "
        f"TO '{lake}/raw' (FORMAT PARQUET, PARTITION_BY (dataproc))")
    con.close()


def test_etl_check_fails_on_a_duplicated_partition(tmp_path):
    pytest.importorskip("pyspark")
    import pyarrow.parquet as pq
    from workloads import check_etl_day

    day = "20240105"
    src = str(tmp_path / "events.parquet")
    events = gen.etl_events(1, 20_000, factor=2)
    ts_day = events["ts"].cast("int64").to_numpy() // gen.DAY_US
    pq.write_table(events.filter(ts_day == ts_day.min() + 4), src)
    lake = str(tmp_path / "lake")
    _write_lake(lake, src, day)
    assert check_etl_day(lake, src, day) is None

    part = os.path.join(lake, "refined", f"dataproc={day}", "setor=Banks")
    f = sorted(os.listdir(part))[0]
    shutil.copyfile(os.path.join(part, f), os.path.join(part, "copy-" + f))
    bad = check_etl_day(lake, src, day)
    assert bad is not None and "duplicated" in bad


def test_collector_counts_one_job_for_a_one_job_count():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    from collector import RETAINED_CONF, StatusCollector

    # AQE off: with it on, a count re-plans after its shuffle and runs
    # as two jobs
    conf = {**RETAINED_CONF, "spark.ui.enabled": "false", "spark.sql.adaptive.enabled": "false"}
    builder = SparkSession.builder.master("local[2]").appName("collector-test")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.range(10).count()  # warm-up, outside the measured interval
        col = StatusCollector(spark)
        before = col.read()
        spark.sparkContext.setJobGroup("measured", "one count")
        spark.range(0, 1000, 1, 2).count()
        d = col.read() - before
        tracker = spark.sparkContext.statusTracker()
        assert len(tracker.getJobIdsForGroup("measured")) == 1
        assert d.jobs == 1
        # partial aggregate over 2 partitions, then the final one
        assert (d.stages, d.skipped_stages, d.tasks, d.failed_tasks) == (2, 0, 3, 0)
        assert d.input_records == 1000 and d.shuffle_write_bytes > 0
        assert col.read() - col.read() == type(d)()
    finally:
        spark.stop()
