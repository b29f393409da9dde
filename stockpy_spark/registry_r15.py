"""Round-15 additions: trainer-facing boundary metadata for packed
sequences.

``pack_boundary_masks`` emits, per packed (shard, bin) context window,
the document start offsets and ids a trainer needs to build
block-diagonal attention masks and per-document loss masks (the
EOD-boundary convention every LLM data pipeline ships next to its
packed corpus — r14 verdict Next #6). Boundaries are a pure function
of the deterministic hash-shard + id-order packing, so the DuckDB
oracle replays them exactly; the arrays surface as comma-joined
strings because the driver's value hasher rejects array columns
(tools/check.py output-type lint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpy_spark.registry_ext import _BUCKET_SQL
from stockpy_spark.sources.testdata import _t


def q_pack_boundary_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary metadata for the packed documents corpus —
    the same packing as pack_materialize (budget 2048, 4 hash shards)
    with per-window doc_starts/doc_ids plus the lead-in and spill
    token counts (operators/sampling.pack_boundaries)."""
    from stockpy_spark.functions.text import token_count
    from stockpy_spark.operators.sampling import pack_boundaries

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    out = pack_boundaries(
        sized, "doc_id", "n_tokens", budget=2048, n_shards=4
    )
    as_csv = lambda c: F.array_join(  # noqa: E731
        F.transform(F.col(c), lambda x: x.cast("string")), ","
    )
    return out.select(
        "shard",
        "bin",
        F.col("n_docs").cast("long").alias("n_docs"),
        as_csv("doc_starts").alias("doc_starts"),
        as_csv("doc_ids").alias("doc_ids"),
        "lead_in_tokens",
        "spill_tokens",
    )


_TOKCNT_SQL = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)

SQL_PACK_BOUNDARIES = f"""
WITH t AS (
    SELECT doc_id, {_TOKCNT_SQL} AS n_tokens,
           {_BUCKET_SQL.format(salt='pack')} % 4 AS shard
    FROM documents WHERE text IS NOT NULL
), c AS (
    SELECT doc_id, shard, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)
                - n_tokens AS BIGINT) AS strt
    FROM t
), b AS (
    SELECT doc_id, shard, n_tokens, strt,
           CAST(floor(strt / 2048.0) AS BIGINT) AS bin,
           strt - CAST(floor(strt / 2048.0) AS BIGINT) * 2048 AS off
    FROM c
)
SELECT shard, bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       string_agg(CAST(off AS VARCHAR), ',' ORDER BY off, doc_id)
           AS doc_starts,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY off, doc_id)
           AS doc_ids,
       CAST(min(off) AS BIGINT) AS lead_in_tokens,
       CAST(greatest(0, last(off + n_tokens ORDER BY off, doc_id) - 2048)
            AS BIGINT) AS spill_tokens
FROM b GROUP BY shard, bin
"""


R15_QUERIES: dict[str, tuple] = {
    "pack_boundary_masks": (q_pack_boundary_masks, SQL_PACK_BOUNDARIES),
}
