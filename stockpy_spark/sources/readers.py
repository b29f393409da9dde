"""Scan operators (SURVEY.md §2.1 S1/S2 + partition-predicate reads).

The reference prunes partitions by string-formatting the S3 path
(transform_stocks_job.py:32 reads ``.../dataproc={PROCESS_DATE}/``). We
instead read the table root and filter on the partition column so
Catalyst's partition pruning (and dynamic partition pruning for joins)
does the work — the same query then works across N partitions and the
pruning shows up in the physical plan as ``PartitionFilters``.

SCHEMA RESOLUTION. :func:`read_parquet` is the single path-based table
source. In the reference every table's schema lives in the Glue Data
Catalog, so Athena never infers one per query; a bare
``spark.read.parquet(path)`` instead launches a footer-reading
schema-inference job (about 90 ms on a 4-core host) on every call.
Without an explicit schema, ``read_parquet`` resolves the schema through
a per-session schema catalog:

- the entry is keyed by the path, a fingerprint of its files (each
  file's relative name, size and mtime, taken from one recursive
  listing) and the values of the confs that change what Parquet
  inference returns for the same files (:data:`INFERENCE_CONFS`);
- a hit reads with ``spark.read.schema(cached)``: no job;
- a miss infers once with Spark's own reader and stores the result, so
  a cached schema is exactly what inference gave for those files
  (partition columns included). Nothing is derived from a footer
  outside Spark;
- a rewritten table (a new file, a new size or a new mtime), or a
  changed conf, misses and infers again — testdata regenerated with a
  different ``ts`` type is that case;
- a path that cannot be fingerprinted (a URI with a scheme, a glob, a
  relative or missing path) is read with plain inference, as before.

There is no switch to turn the catalog off: a hit returns exactly what a
miss would. At lake scale the inference-free path is a catalog table
(:func:`read_table`), whose schema the metastore holds.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Confs that change the schema Spark infers from the same parquet files.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# session -> {path: (fingerprint, conf values, schema)}; one entry per
# path, replaced when the files or confs change. Read from thread pools.
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def _files_fingerprint(path: str) -> tuple | None:
    """``(relative name, size, mtime_ns)`` of every file under ``path``
    (or of ``path`` itself when it is a file) from one listing, sorted.
    None for a path that is not an absolute local one (a URI of any
    scheme, a glob, or a relative path, which the JVM resolves against
    its own working directory) or that does not exist."""
    if not os.path.isabs(path) or any(c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (("", st.st_size, st.st_mtime_ns),)
        out = []
        stack = [path]
        while stack:
            with os.scandir(stack.pop()) as it:
                for e in it:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    else:
                        s = e.stat()
                        out.append((os.path.relpath(e.path, path), s.st_size, s.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(out))


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """S1 — parquet scan. With ``schema`` the read is exactly
    ``spark.read.schema(schema).parquet(path)`` (pipelines pass one:
    reference cite transform_stocks_job.py:107-119). Without it the
    schema comes from the session's schema catalog, inferred at most
    once per (path, files, inference confs) — see the module
    docstring."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    files = _files_fingerprint(path)
    if files is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in INFERENCE_CONFS)
    with _schemas_lock:
        entry = _schemas.setdefault(spark, {}).get(path)
    if entry is not None and entry[:2] == (files, confs):
        return spark.read.schema(entry[2]).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[spark][path] = (files, confs, df.schema)
    return df


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """S2 — catalog scan (reference: DynamicFrame catalog read,
    transform_news_job.py:320-323; plain ``spark.table`` here)."""
    return spark.table(table)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
    quote: str = '"',
    escape: str = '"',
    multiline: bool = False,
) -> DataFrame:
    """CSV scan with a REQUIRED explicit schema — inference reads the
    data twice and guesses types, both wrong at scale. Defaults to
    RFC-4180 quoting (escape = doubled quote), which is what external
    writers produce; Spark's own default (backslash escape) is the
    minority dialect. ``multiline`` handles quoted embedded newlines
    but makes files unsplittable (one task per file) — leave it off
    unless the data needs it."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("quote", quote)
        .option("escape", escape)
        .option("multiLine", multiline)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Newline-delimited JSON scan, explicit schema (inference on JSON is
    a full extra pass over 100 TB)."""
    return spark.read.schema(schema).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    row_tag: str = "row",
) -> DataFrame:
    """XML scan via Spark 4's NATIVE xml source (the spark-xml package
    folded into core) — explicit schema like the other text readers
    (inference is a full extra pass), one row per ``row_tag`` element.
    Ingestion-edge format: row-oriented, no pushdown — rewrite as
    parquet first thing, like CSV/JSON."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_partition(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partition_value: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Partition-pruned scan: predicate on the partition column instead of
    path math, so Catalyst prunes at planning time (SURVEY.md §4.1)."""
    return read_parquet(spark, path, schema).where(
        F.col(partition_col) == F.lit(partition_value)
    )


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema evolution (``mergeSchema``): unions the
    footers of every file under ``path``, so a table whose writers
    added columns over time reads as the superset schema with NULLs
    where old files lack a column — the additive-evolution contract a
    long-lived lake table needs. Off by default in Spark because footer
    merging costs a file-listing pass; this entry point makes the cost
    explicit and opt-in rather than a session-wide conf. Renames and
    type changes are NOT evolution (they are breaking changes — the
    reference's fuzzy drift alignment in project.align_to_columns is
    the remediation path for those)."""
    return spark.read.option("mergeSchema", "true").parquet(path)
