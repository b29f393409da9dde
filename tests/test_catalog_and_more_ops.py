"""Catalog DDL round-trip, salted join equivalence, grouping sets,
unpivot, multi-format IO."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.joins import salted_join
from stockpy_spark.operators.aggregate import grouping_sets_summary, unpivot_measures
from stockpy_spark.sources import (
    create_database,
    create_external_table,
    repair_partitions,
    table_exists,
    write_parquet_partitioned,
)


def test_catalog_roundtrip(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "20240101"), (2, "b", "20240102")], "id int, v string, dataproc string"
    )
    write_parquet_partitioned(df, path, ["dataproc"], mode="overwrite")

    create_database(spark, "cat_test")
    assert not table_exists(spark, "cat_test.t1")
    create_external_table(
        spark, "cat_test.t1", "id INT, v STRING", path, partitioned_by="dataproc STRING"
    )
    assert table_exists(spark, "cat_test.t1")
    repair_partitions(spark, "cat_test.t1")  # S10: discover the 2 partitions
    out = spark.table("cat_test.t1")
    assert out.count() == 2
    # partition-pruned read: only one partition's rows
    assert out.where(F.col("dataproc") == "20240101").count() == 1
    spark.sql("DROP TABLE cat_test.t1")
    spark.sql("DROP DATABASE cat_test")


def test_salted_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(20 if k == "hot" else 2)],
        "k string, i int",
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, tag string")
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "k", salt_buckets=4).collect()))
    assert plain == salted


def test_grouping_sets(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)], "g1 string, g2 string, v double"
    )
    out = grouping_sets_summary(
        df, sets=[["g1", "g2"], []], all_keys=["g1", "g2"], agg_exprs={"s": "sum(v)"}
    )
    rows = {(r.g1, r.g2): r.s for r in out.collect()}
    assert rows[("a", "x")] == 1.0
    assert rows[(None, None)] == 6.0  # grand total set
    assert len(rows) == 4


def test_unpivot(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, a double, b double")
    out = unpivot_measures(df, ["id"], ["a", "b"], "m", "v")
    assert sorted((r.m, r.v) for r in out.collect()) == [("a", 10.0), ("b", 20.0)]


def test_csv_json_roundtrip(spark, tmp_path):
    """Multi-format source/sink: same frame through csv and json."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    csv_path, json_path = str(tmp_path / "c"), str(tmp_path / "j")
    df.write.mode("overwrite").option("header", True).csv(csv_path)
    df.write.mode("overwrite").json(json_path)
    back_csv = spark.read.schema("id int, name string").option("header", True).csv(csv_path)
    back_json = spark.read.schema("id int, name string").json(json_path)
    assert sorted(map(tuple, back_csv.collect())) == [(1, "x"), (2, "y")]
    assert sorted(map(tuple, back_json.collect())) == [(1, "x"), (2, "y")]


def test_add_drop_partition_manual_registration(spark, tmp_path):
    """The O(1) alternative to MSCK: register exactly the partition an
    incremental write produced (reference transform_news_job.py:217-262
    fallback ladder)."""
    from stockpy_spark.sources import add_partition, drop_partition

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "20240101"), (2, "b", "20240102")], "id int, v string, dataproc string"
    )
    write_parquet_partitioned(df, path, ["dataproc"], mode="overwrite")
    create_database(spark, "cat_padd")
    create_external_table(
        spark, "cat_padd.t", "id INT, v STRING", path, partitioned_by="dataproc STRING"
    )
    assert spark.table("cat_padd.t").count() == 0  # nothing registered yet
    add_partition(spark, "cat_padd.t", {"dataproc": "20240101"})
    assert [r.dataproc for r in spark.table("cat_padd.t").collect()] == ["20240101"]
    add_partition(spark, "cat_padd.t", {"dataproc": "20240101"})  # idempotent
    add_partition(spark, "cat_padd.t", {"dataproc": "20240102"})
    assert spark.table("cat_padd.t").count() == 2
    drop_partition(spark, "cat_padd.t", {"dataproc": "20240101"})
    assert spark.table("cat_padd.t").count() == 1
    # external table: dropping the partition left the files on disk
    assert spark.read.parquet(path).count() == 2
    spark.sql("DROP TABLE cat_padd.t")
    spark.sql("DROP DATABASE cat_padd")


def test_partition_spec_escaped_and_validated(spark, tmp_path):
    """Partition values are interpolated into DDL: a single quote must
    be escaped (not break the statement / inject), and a column that is
    not a partition column of the table must be rejected by name."""
    import pytest

    from stockpy_spark.sources import add_partition, drop_partition

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "o'brien")], "id int, v string, dataproc string"
    )
    write_parquet_partitioned(df, path, ["dataproc"], mode="overwrite")
    create_database(spark, "cat_pesc")
    create_external_table(
        spark, "cat_pesc.t", "id INT, v STRING", path, partitioned_by="dataproc STRING"
    )
    add_partition(spark, "cat_pesc.t", {"dataproc": "o'brien"})
    assert [r.dataproc for r in spark.table("cat_pesc.t").collect()] == ["o'brien"]
    with pytest.raises(ValueError, match="not partition column"):
        add_partition(spark, "cat_pesc.t", {"id": "1"})
    with pytest.raises(ValueError, match="not partition column"):
        drop_partition(spark, "cat_pesc.t", {"v": "x"})
    drop_partition(spark, "cat_pesc.t", {"dataproc": "o'brien"})
    assert spark.table("cat_pesc.t").count() == 0
    spark.sql("DROP TABLE cat_pesc.t")
    spark.sql("DROP DATABASE cat_pesc")


def test_replace_external_table_keeps_data(spark, tmp_path):
    from stockpy_spark.sources import replace_external_table

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", "20240101"), (2, "b", "20240102")], "id int, v string, dataproc string"
    )
    write_parquet_partitioned(df, path, ["dataproc"], mode="overwrite")
    create_database(spark, "cat_repl")
    replace_external_table(
        spark, "cat_repl.t", "id INT, v STRING", path, partitioned_by="dataproc STRING"
    )
    assert spark.table("cat_repl.t").count() == 2  # partitions re-discovered
    # recreate with an evolved schema: data survives the drop
    replace_external_table(
        spark,
        "cat_repl.t",
        "id INT, v STRING",
        path,
        partitioned_by="dataproc STRING",
    )
    assert spark.table("cat_repl.t").count() == 2
    spark.sql("DROP TABLE cat_repl.t")
    spark.sql("DROP DATABASE cat_repl")


def test_analyze_table_feeds_cbo_stats(spark, tmp_path):
    from stockpy_spark.sources import analyze_table

    df = spark.range(1000).withColumn("v", F.col("id") % 7)
    df.write.saveAsTable("cat_stats_t")
    try:
        analyze_table(spark, "cat_stats_t", columns=["id", "v"])
        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED cat_stats_t").collect()
        }
        assert "Statistics" in desc and "bytes" in desc["Statistics"]
        col = {
            r.info_name: r.info_value
            for r in spark.sql("DESCRIBE EXTENDED cat_stats_t v").collect()
        }
        assert col.get("distinct_count") == "7"
    finally:
        spark.sql("DROP TABLE IF EXISTS cat_stats_t")


def test_session_defaults_scale_conscious(spark):
    """The conf contract the 100 TB design relies on: AQE with skew-join
    splitting and partition coalescing, dynamic partition overwrite,
    parquet pushdown, UTC, Arrow, and a codegen cache that holds the
    registry's generated classes."""
    from stockpy_spark.session import spark_conf_defaults

    conf = spark_conf_defaults()
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert conf["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    assert conf["spark.sql.sources.partitionOverwriteMode"] == "dynamic"
    assert conf["spark.sql.parquet.filterPushdown"] == "true"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.codegen.cache.maxEntries"] == "4096"
    # and the live test session actually carries them
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"
