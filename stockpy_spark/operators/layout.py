"""Physical layout optimization: Z-order (Morton) clustering for
multi-dimensional data skipping.

Parquet data skipping works off per-file (and per-row-group) min/max
statistics. Sorting by a single column makes its ranges tight but
leaves every other filter column's ranges spanning the whole domain; a
Z-ORDER sort interleaves the bits of several columns' rank buckets so
that files are tight in ALL the interleaved dimensions at once — the
same technique behind Delta Lake's OPTIMIZE ZORDER BY and the classic
UB-tree layout. At 100 TB this is the difference between a two-column
predicate pruning ~sqrt(files) and scanning everything.

Implementation is pure builtin expressions: each column is bucketed to
a ``bits``-bit rank (min/max-scaled — the one tiny aggregate this
needs), and the Morton code interleaves those ranks with shift/or
terms unrolled at plan-build time. One narrow scan + the write's own
sort; no UDFs, no shuffle beyond the final range partitioning of the
sorted write.

``measure_skipping`` quantifies the win on real files: it writes the
same frame sorted both ways and reports, per file, each dimension's
min/max span — the driver-side proof (tools/zorder_probe.py records
the numbers in BASELINE.md §4) rather than a claim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stockpy_spark.sources.readers import read_parquet


def _bucket_rank(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Scale col into [0, 2^bits) by its min/max. Constant columns
    (max == min) rank 0 everywhere."""
    span = (cmax - cmin).cast("double")
    frac = F.when(span > 0, (col.cast("double") - cmin.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    top = F.lit((1 << bits) - 1)
    return F.least(top, F.floor(frac * (1 << bits)).cast("long"))


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Add ``__zkey``: the Morton interleave of each column's
    ``bits``-bit min/max rank. The per-column min/max come from one
    tiny global aggregate joined back as a broadcast scalar row (the
    standard pattern — the stats row is 1 row regardless of scale).
    ``len(cols) * bits`` must fit in 63 bits."""
    if len(cols) * bits > 63:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits = {len(cols) * bits} interleaved "
            "bits does not fit a signed 64-bit key; lower `bits`"
        )
    stats = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    )
    joined = df.crossJoin(F.broadcast(stats))
    ranks = [
        _bucket_rank(
            F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), bits
        )
        for c in cols
    ]
    # Morton interleave, unrolled: output bit (b * n + i) = rank_i bit b
    n = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(ranks):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(r, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    out = joined.withColumn("__zkey", key)
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of ``cols``:
    range-partition on the Morton key into ``n_files`` and sort within
    partitions, so both the file boundaries and the row groups are
    tight in every interleaved dimension. The reader needs nothing
    special — pushdown filters prune on the resulting min/max stats."""
    keyed = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def measure_file_spans(
    spark, path: str, cols: list[str]
) -> DataFrame:
    """Per-file min/max span of each dimension, as a fraction of the
    global span — the data-skipping figure of merit (mean span ~1/n
    per dimension after Z-order vs ~1.0 for unsorted/other-sorted
    files). Reads footers via the `_metadata` file column group-by."""
    df = read_parquet(spark, path).withColumn(
        "__file", F.col("_metadata.file_path")
    )
    per_file = df.groupBy("__file").agg(
        *[F.min(c).alias(f"min_{c}") for c in cols],
        *[F.max(c).alias(f"max_{c}") for c in cols],
    )
    glob = df.agg(
        *[F.min(c).alias(f"gmin_{c}") for c in cols],
        *[F.max(c).alias(f"gmax_{c}") for c in cols],
    )
    out = per_file.crossJoin(F.broadcast(glob))
    for c in cols:
        span = F.col(f"gmax_{c}").cast("double") - F.col(f"gmin_{c}").cast("double")
        out = out.withColumn(
            f"span_{c}",
            F.when(
                span > 0,
                (F.col(f"max_{c}").cast("double") - F.col(f"min_{c}").cast("double"))
                / span,
            ).otherwise(F.lit(0.0)),
        )
    return out.select(
        "__file", *[f"span_{c}" for c in cols]
    )
