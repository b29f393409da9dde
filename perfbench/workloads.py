"""The benchmark's three workloads.

Each workload generates its inputs from a seed, computes its DuckDB
answers once (outside every timed interval), and runs passes. A pass is
the fixed list of operations the workload stands for; ``run_pass``
returns its wall time, the time of each operation, and the operations
that raised or whose output failed its check. Checks run after the
timed call they check.

Every call into the program goes through ``Tracer.span`` with the layer
it enters, so the same code gives the untraced timings (a tracer with no
collector) and the per-layer trace.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockpy_spark.pipelines import FrameConnector, extract_stocks, stock_dimension, transform_stocks
from stockpy_spark.plans import Pipeline
from stockpy_spark.registry import ORACLES, QUERIES
from stockpy_spark.sources import catalog
from stockpy_spark.sources.readers import read_parquet, read_table
from stockpy_spark.sources.testdata import load_tables
from stockpy_spark.sources.writers import write_parquet_overwrite_partitions
from tools.check import canon_rows, schema_lint

import gen
from spans import Tracer

# q3, q5 and a1 are left out: they round a DOUBLE sum of 4-decimal
# products to 2 places, and on about one seed in ten a sum lands on a
# half-cent tie that Spark and DuckDB round apart (q7 and q9 already sum
# in DECIMAL and do not).
SQL_QUERIES = [
    "flagship_event_enrichment", "a4_dedup_first", "a9_cube", "j3_inner_join_agg",
    "o1_topk", "w5_sessionize", "q7_volume_shipping", "q9_product_profit",
    "q16_supplier_variety", "q18_large_orders", "q20_heavy_shippers",
    "asof_purchase_view", "rj2_event_windows", "ts_bucket_rollup",
]
LLM_QUERIES = [
    "pipeline_data_release", "pipeline_dedup_cc",
]
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
CORPUS_TABLES = ("documents", "embeddings")


@dataclass
class PassResult:
    wall_s: float
    ops: list[tuple[str, float]] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    # rows each checked action returned, keyed by span id, for the
    # input-rows-per-output-row ratio
    out_rows: dict[int, int] = field(default_factory=dict)
    written_bytes: int = 0
    written_files: int = 0
    input_bytes: int = 0
    files_per_partition: float = 0.0


def arrow_rows(tbl) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols)) if cols else []


def duck_answer(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    rel = con.sql(sql)
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    return (cols, types, canon_rows(cols, rel.fetchall()))


def check_frame(df, tbl, answer: tuple) -> str | None:
    """None when the Arrow result ``tbl`` of ``df`` matches the DuckDB
    ``answer`` on schema, row count and order-insensitive value hash."""
    dcols, dtypes, (dh, dn) = answer
    scols = tbl.column_names
    stypes = [f.dataType.simpleString() for f in df.schema.fields]
    problems = schema_lint(scols, stypes, dcols, dtypes)
    if problems:
        return f"schema {problems}"
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    sh, sn = canon_rows(scols, arrow_rows(tbl))
    if sn != dn:
        return f"rows {sn} vs {dn}"
    if sh != dh:
        return "value hash differs"
    return None


def duck_views(con: duckdb.DuckDBPyConnection, inputs: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{inputs}/{t}.parquet/*.parquet')"
        )


def dir_usage(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith("."):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


class QueryWorkload:
    """Registered queries in a closed loop: read the inputs, then build
    and run each query, collecting its result to the client."""

    def __init__(self, name: str, queries: list[str], tables: tuple[str, ...],
                 sf: float, n_docs: int, n_vecs: int):
        self.name, self.queries, self.tables = name, queries, tables
        self.sf, self.n_docs, self.n_vecs = sf, n_docs, n_vecs
        self.answers: dict[str, tuple] = {}

    def generate(self, out_dir: str, seed: int) -> int:
        return gen.write_inputs(out_dir, seed, self.sf, self.n_docs, self.n_vecs)

    def prepare(self, inputs: str) -> None:
        self.inputs = inputs
        con = duckdb.connect()
        duck_views(con, inputs, TPCH_TABLES + CORPUS_TABLES)
        self.answers = {q: duck_answer(con, ORACLES[q]) for q in self.queries}
        con.close()

    def _run_query(self, spark: SparkSession, tr: Tracer, q: str):
        with tr.span(q, "registry"):
            df = QUERIES[q](spark, self.inputs)
        with tr.span(q, "operators") as act:
            return df, act, df.toArrow()

    def run_pass(self, spark: SparkSession, tr: Tracer, k: int, check: bool) -> PassResult:
        res = PassResult(0.0)
        t0 = time.perf_counter()
        with tr.span("load_tables", "sources"):
            frames = load_tables(spark, self.inputs, self.tables)
            for df in frames.values():
                df.schema
        for q in self.queries:
            with tr.span(q, "op") as op:
                got = attempt(res, q, lambda: self._run_query(spark, tr, q))
            res.ops.append((q, op.seconds))
            if got is not None and check:
                df, act, tbl = got
                res.out_rows[act.id] = tbl.num_rows
                bad = check_frame(df, tbl, self.answers[q])
                if bad:
                    res.failures.append(f"{q}: {bad}")
        res.wall_s = _pass_wall(tr, t0)
        return res


def attempt(res: PassResult, label: str, fn):
    """Run one operation; one that raises counts as failed, not fatal."""
    res.attempted += 1
    try:
        return fn()
    except Exception as ex:  # a failing operation is a result, not a crash
        res.failures.append(f"{label}: {type(ex).__name__}: {ex}"[:300])
        return None


def _pass_wall(tr: Tracer, t0: float) -> float:
    """Wall time of a pass from ``t0`` to the end of its last span;
    the checks after that span are not in it."""
    return tr.spans[-1].end - t0


# ---------------------------------------------------------------- ETL

SECTORS = ["Banks", "Energy", "Sanitation", "Insurance", "Telecommunications"]
N_TICKERS = 1000
# dimension tickers that never trade: the left-join-miss rows of extract
N_SILENT = 5
ETL_DAYS = 1
EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])
RAW_DDL = (
    "sector STRING, ticker STRING, company STRING, date STRING, close DOUBLE, "
    "high DOUBLE, low DOUBLE, open DOUBLE, volume BIGINT"
)
REFINED_DDL = (
    "codigoAcao STRING, nomeEmpresa STRING, data DATE, precoFechamento DOUBLE, "
    "precoMaximo DOUBLE, precoMinimo DOUBLE, precoAbertura DOUBLE, "
    "volumeNegociacao BIGINT, mediaFechamento DOUBLE, totalVolume BIGINT, "
    "variacaoFechamento DOUBLE"
)
# reference-style verification queries over the whole refined table
ETL_SQL = {
    "top_volume": (
        "SELECT codigoAcao, data, volumeNegociacao FROM {refined} "
        "ORDER BY volumeNegociacao DESC, codigoAcao, data LIMIT 10"
    ),
    "count_refined": "SELECT count(*) AS n FROM {refined}",
    "count_raw": "SELECT count(*) AS n FROM {raw}",
}
STREAM_QUERIES = ["stream_cdc_upsert", "stream_dedup_keys"]
DOUBLES = ["precoFechamento", "precoMaximo", "precoMinimo", "precoAbertura",
           "mediaFechamento", "variacaoFechamento"]


def dimension() -> dict[str, dict[str, str]]:
    dim: dict[str, dict[str, str]] = {s: {} for s in SECTORS}
    for i in range(N_TICKERS + N_SILENT):
        dim[SECTORS[i % len(SECTORS)]][f"TK{i}"] = f"Company {i}"
    return dim


def quotes_of(events):
    """One day's events as daily quotes: a ticker per user residue,
    open/close the first/last value in (ts, event_id) order."""
    order = F.struct("ts", "event_id")
    return events.groupBy(
        F.concat(F.lit("TK"), (F.col("user_id") % N_TICKERS).cast("string")).alias("Ticker"),
        F.date_format("ts", "yyyy-MM-dd").alias("Date"),
    ).agg(
        F.max_by("value", order).alias("Close"),
        F.max("value").alias("High"),
        F.min("value").alias("Low"),
        F.min_by("value", order).alias("Open"),
        F.count("*").alias("Volume"),
    )


def expected_refined_sql(src: str, day: str) -> str:
    """The refined rows of ``day`` recomputed by DuckDB from the landed
    source file, doubles rounded to 6 places."""
    dim_rows = ", ".join(
        f"('{t}', '{s}', '{c}')" for s, m in dimension().items() for t, c in m.items()
    )
    return f"""
    WITH q AS (
        SELECT 'TK' || CAST(user_id % {N_TICKERS} AS VARCHAR) AS ticker,
               strftime(ts, '%Y-%m-%d') AS date,
               last(value ORDER BY ts, event_id) AS close, max(value) AS high,
               min(value) AS low, first(value ORDER BY ts, event_id) AS open,
               count(*) AS volume
        FROM read_parquet('{src}') GROUP BY 1, 2),
    dim(ticker, sector, company) AS (VALUES {dim_rows}),
    f AS (SELECT * FROM dim JOIN q USING (ticker) WHERE close > 0 AND volume > 0)
    SELECT ticker AS codigoAcao, company AS nomeEmpresa, CAST(date AS DATE) AS data,
           round(close, 6) AS precoFechamento, round(high, 6) AS precoMaximo,
           round(low, 6) AS precoMinimo, round(open, 6) AS precoAbertura,
           volume AS volumeNegociacao,
           round(avg(close) OVER (PARTITION BY sector), 6) AS mediaFechamento,
           sum(volume) OVER (PARTITION BY sector) AS totalVolume,
           round(close - lag(close) OVER (PARTITION BY ticker ORDER BY date), 6)
               AS variacaoFechamento,
           '{day}' AS dataproc, sector AS setor
    FROM f"""


def hive_scan(root: str, levels: int) -> str:
    """DuckDB's Hive-partitioned reading of a tree with ``levels``
    partition directories, partition values kept as strings."""
    glob = "/".join([root] + ["*"] * levels + ["*.parquet"])
    return f"read_parquet('{glob}', hive_partitioning = true, hive_types_autocast = false)"


def check_etl_day(lake: str, src: str, day: str) -> str | None:
    """None when DuckDB's Hive-partitioned reading of the refined tree
    for ``day`` equals the rows recomputed from the source file, with
    no duplicates, and the raw partition holds one row per ticker."""
    con = duckdb.connect()
    try:
        cols = ", ".join(
            f"round({c}, 6) AS {c}" if c in DOUBLES else c
            for c in (d.split()[0] for d in REFINED_DDL.split(", "))
        ) + ", dataproc, setor"
        got = con.sql(
            f"SELECT {cols} FROM {hive_scan(f'{lake}/refined', 2)} WHERE dataproc = '{day}'")
        gcols, grows = list(got.columns), got.fetchall()
        want = con.sql(expected_refined_sql(src, day))
        wcols, wrows = list(want.columns), want.fetchall()
        keys = [r[gcols.index("codigoAcao")] for r in grows]
        if len(keys) != len(set(keys)):
            return f"{day}: {len(keys) - len(set(keys))} duplicated refined rows"
        if canon_rows(gcols, grows) != canon_rows(wcols, wrows):
            return f"{day}: refined rows {len(grows)} differ from source ({len(wrows)})"
        n_raw = con.sql(
            f"SELECT count(*) FROM {hive_scan(f'{lake}/raw', 1)} WHERE dataproc = '{day}'"
        ).fetchone()[0]
        if n_raw != N_TICKERS + N_SILENT:
            return f"{day}: raw partition has {n_raw} rows, want {N_TICKERS + N_SILENT}"
        return None
    finally:
        con.close()


class EtlWorkload:
    """The reference's daily batch: each day lands one file, is
    extracted to a raw partition, registered, transformed to refined
    partitions by (dataproc, setor), registered and read back. Once per
    pass: a rerun of one day, a partition repair, whole-table queries
    and two streaming queries over the landing directory."""

    name = "etl_daily_batch"

    def generate(self, out_dir: str, seed: int) -> int:
        events = gen.etl_events(seed, gen.BASE_ROWS["events"] // 10)
        rng = np.random.default_rng([seed, 3])
        first = np.datetime64("2024-01-01", "D")
        picks = sorted(rng.choice(gen.EVENT_DAYS, ETL_DAYS, replace=False))
        self.days = [str(first + int(d)).replace("-", "") for d in picks]
        self.rerun = self.days[int(rng.integers(0, ETL_DAYS))]
        day_us = events["ts"].cast("int64").to_numpy() // gen.DAY_US
        base = (first - np.datetime64("1970-01-01", "D")).astype(int)
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for d, p in zip(self.days, picks):
            idx = np.nonzero(day_us == base + int(p))[0]
            f = os.path.join(out_dir, f"events-{d}.parquet")
            pq.write_table(events.take(idx), f, compression="snappy")
            total += os.path.getsize(f)
        return total

    def prepare(self, inputs: str) -> None:
        self.inputs = inputs

    def source(self, day: str) -> str:
        return os.path.join(self.inputs, f"events-{day}.parquet")

    def _run_sql(self, spark: SparkSession, tr: Tracer, q: str, sql: str):
        with tr.span(q, "operators") as act:
            df = spark.sql(sql)
            return df, act, df.toArrow()

    def _run_stream(self, spark: SparkSession, tr: Tracer, q: str, landing_root: str):
        with tr.span(q, "streaming"):
            df = QUERIES[q](spark, landing_root)
        with tr.span(q, "operators") as act:
            return df, act, df.toArrow()

    def run_pass(self, spark: SparkSession, tr: Tracer, k: int, check: bool) -> PassResult:
        res = PassResult(0.0)
        lake = os.path.join(os.path.dirname(self.inputs), f"lake{k}")
        landing = os.path.join(lake, "landing", "events.parquet")
        db = f"etl{k}"
        raw_t, refined_t = f"{db}.raw", f"{db}.refined"
        os.makedirs(landing)
        t0 = time.perf_counter()
        with tr.span("tables", "sources.catalog"):
            catalog.create_database(spark, db)
            catalog.create_external_table(spark, raw_t, RAW_DDL, f"{lake}/raw", "dataproc STRING")
            catalog.create_external_table(
                spark, refined_t, REFINED_DDL, f"{lake}/refined", "dataproc STRING, setor STRING")
        with tr.span("stock_dimension", "pipelines"):
            dim = stock_dimension(spark, dimension())
        readbacks = []

        def cycle(day: str) -> None:
            def land(ctx):
                shutil.copyfile(self.source(day), os.path.join(landing, f"part-{day}.parquet"))

            def extract(ctx):
                with tr.span("read_parquet", "sources"):
                    ev = read_parquet(spark, os.path.join(landing, f"part-{day}.parquet"), EVENTS_SCHEMA)
                with tr.span("extract_stocks", "pipelines"):
                    out = extract_stocks(spark, FrameConnector(quotes_of(ev)), dim, day)
                with tr.span("raw", "sources.writers"):
                    write_parquet_overwrite_partitions(out, f"{lake}/raw", ["dataproc"])

            def register_raw(ctx):
                with tr.span("add_partition", "sources.catalog"):
                    catalog.add_partition(spark, raw_t, {"dataproc": day})

            def transform(ctx):
                with tr.span("read_table", "sources"):
                    raw = read_table(spark, raw_t).where(F.col("dataproc") == day)
                with tr.span("transform_stocks", "pipelines"):
                    out = transform_stocks(raw)
                with tr.span("refined", "sources.writers"):
                    write_parquet_overwrite_partitions(out, f"{lake}/refined", ["dataproc", "setor"])

            def register_refined(ctx):
                for s in SECTORS:
                    with tr.span("add_partition", "sources.catalog"):
                        catalog.add_partition(spark, refined_t, {"dataproc": day, "setor": s})

            def readback(ctx):
                with tr.span("read_table", "sources"):
                    df = read_table(spark, refined_t).where(F.col("dataproc") == day)
                with tr.span("readback", "operators") as act:
                    tbl = df.groupBy("setor").agg(
                        F.count("*").alias("n"), F.sum("volumeNegociacao").alias("volume"),
                    ).toArrow()
                readbacks.append((day, act.id, tbl))

            stages = {"land": land, "extract": extract, "register_raw": register_raw,
                      "transform": transform, "register_refined": register_refined,
                      "readback": readback}
            p = Pipeline()
            for name, fn in stages.items():
                p.add(name, _in_span(tr, name, fn))
            with tr.span(day, "op") as op:
                _, results = p.run()
            res.ops.append((day, op.seconds))
            res.attempted += 1
            for r in results:
                if not r.ok:
                    res.failures.append(f"cycle {day} stage {r.name}: {r.error}"[:300])

        for day in self.days + [self.rerun]:
            cycle(day)
        with tr.span("repair_partitions", "sources.catalog"):
            catalog.repair_partitions(spark, raw_t)
        results = []
        for q, sql in ETL_SQL.items():
            got = attempt(res, q, lambda: self._run_sql(spark, tr, q, sql.format(
                raw=raw_t, refined=refined_t)))
            if got is not None:
                results.append((q, *got))
        streamed = []
        for q in STREAM_QUERIES:
            got = attempt(res, q, lambda: self._run_stream(spark, tr, q, os.path.dirname(landing)))
            if got is not None:
                streamed.append((q, *got))
        res.wall_s = _pass_wall(tr, t0)

        res.written_bytes, res.written_files = (
            a + b for a, b in zip(dir_usage(f"{lake}/raw"), dir_usage(f"{lake}/refined")))
        res.input_bytes = sum(os.path.getsize(self.source(d)) for d in self.days)
        _, refined_files = dir_usage(f"{lake}/refined")
        res.files_per_partition = refined_files / (len(self.days) * len(SECTORS))
        if not check:
            return res
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{landing}/*.parquet')")
            for q, df, act, tbl in streamed:
                res.out_rows[act.id] = tbl.num_rows
                bad = check_frame(df, tbl, duck_answer(con, ORACLES[q]))
                if bad:
                    res.failures.append(f"{q}: {bad}")
            for name, levels in (("raw", 1), ("refined", 2)):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM {hive_scan(f'{lake}/{name}', levels)}")
            for q, df, act, tbl in results:
                res.out_rows[act.id] = tbl.num_rows
                bad = check_frame(df, tbl, duck_answer(
                    con, ETL_SQL[q].format(raw="raw", refined="refined")))
                if bad:
                    res.failures.append(f"{q}: {bad}")
            for day, act_id, tbl in readbacks:
                res.out_rows[act_id] = tbl.num_rows
                want = con.sql(
                    f"SELECT setor, count(*) AS n, sum(volumeNegociacao) AS volume "
                    f"FROM refined WHERE dataproc = '{day}' GROUP BY setor")
                if canon_rows(tbl.column_names, arrow_rows(tbl)) != canon_rows(
                        list(want.columns), want.fetchall()):
                    res.failures.append(f"readback {day}: differs from the refined tree")
        finally:
            con.close()
        for day in self.days:
            bad = check_etl_day(lake, self.source(day), day)
            if bad:
                res.failures.append(bad)
        return res


def _in_span(tr: Tracer, name: str, fn):
    def run(ctx):
        with tr.span(name, "plans"):
            fn(ctx)
    return run


WORKLOADS = {
    "sql_analytics": lambda: QueryWorkload(
        "sql_analytics", SQL_QUERIES, TPCH_TABLES, sf=0.01, n_docs=500, n_vecs=500),
    "llm_curation": lambda: QueryWorkload(
        "llm_curation", LLM_QUERIES, CORPUS_TABLES, sf=0.01, n_docs=500, n_vecs=500),
    "etl_daily_batch": EtlWorkload,
}
