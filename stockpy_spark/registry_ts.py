"""Range-join + time-bucket-rollup + audio query family (round 5).

Extension surface beyond the reference's equi-join/day-partition world
(its joins are all equi — transform_stocks_job.py:149-170; its only
time grouping is the ``dataproc`` day): banding joins, event-in-window
attribution, interval overlap, hypertable-style multi-resolution
rollups, and the audio modality for the multimodal seam. Every query
has a DuckDB oracle; the range joins' oracles are the NAIVE inequality
joins, so a hash match proves the bucket decomposition loses / double-
counts nothing vs the O(n*m) reference semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.multimodal import (
    attach_bmp_payload,
    attach_wav_payload,
    extract_audio_features,
    extract_resized_features,
)
from stockpy_spark.operators.rangejoin import (
    bucketed_range_join,
    interval_overlap_join,
)
from stockpy_spark.operators.timeseries import (
    continuous_aggregate,
    gap_fill_locf,
    hopping_window_rollup,
    reaggregate,
    time_bucket,
)
from stockpy_spark.functions.text import fingerprint_rolling
from stockpy_spark.operators.merge import merge_upsert
from stockpy_spark.operators.sampling import stratified_sample_exact
from stockpy_spark.operators.similarity import label_centroids
from stockpy_spark.sources.format_fixture import (
    TS_FMT,
    events_from_csv,
    events_from_json,
    events_from_orc,
)
from stockpy_spark.sources.testdata import _t


# --- rj1: value-banding range join (price bands) ------------------------

N_BANDS, BAND_W = 21, 5000.0


def q_rj1_price_band(spark, sf_dir):
    """Band every lineitem by price into fixed 5000-wide brackets via
    the bucketed range join (operators/rangejoin.py) — NO nested-loop
    join: the bands explode onto the same floor(price/5000) grid the
    facts map to, so Catalyst plans a broadcast hash equi-join. The
    oracle is the naive BETWEEN join."""
    li = _t(spark, sf_dir, "lineitem")
    bands = spark.range(N_BANDS).select(
        F.col("id").alias("band"),
        (F.col("id") * BAND_W).alias("lo"),
        (F.col("id") * BAND_W + (BAND_W - 0.01)).alias("hi"),
    )
    joined = bucketed_range_join(
        li, bands, "l_extendedprice", "lo", "hi"  # auto width ~ band width
    )
    return joined.groupBy("band").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


SQL_RJ1 = """
WITH bands AS (
    SELECT CAST(range AS BIGINT) AS band,
           range * 5000.0 AS lo,
           range * 5000.0 + 4999.99 AS hi
    FROM range(0, 21)
)
SELECT b.band, COUNT(*) AS n_items, ROUND(SUM(l.l_quantity), 4) AS sum_qty
FROM lineitem l JOIN bands b ON l.l_extendedprice BETWEEN b.lo AND b.hi
GROUP BY b.band
"""


# --- rj2: event-in-time-window attribution ------------------------------

DAY_LO_S, DAY_HI_S = 9 * 3600, 17 * 3600  # business window, closed


def q_rj2_event_windows(spark, sf_dir):
    """Attribute events to per-day business windows (09:00-17:00 UTC,
    closed on whole seconds) with the bucketed range join on epoch
    seconds. The window frame derives from the events' own distinct
    days, so the interval side is data-driven, not a literal table."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_sec", F.col("ts").cast("timestamp").cast("long")
    )
    days = (
        ev.select(F.to_date("ts").alias("d"))
        .distinct()
        .withColumn("day_start", F.col("d").cast("timestamp").cast("long"))
        .select(
            F.date_format("d", "yyyyMMdd").alias("day"),
            (F.col("day_start") + DAY_LO_S).alias("lo"),
            (F.col("day_start") + DAY_HI_S).alias("hi"),
        )
    )
    joined = bucketed_range_join(
        ev, days, "ts_sec", "lo", "hi"  # auto width ~ the 8h window
    )
    return joined.groupBy("day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_RJ2 = """
WITH w AS (
    SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
           CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS BIGINT)
               + 32400 AS lo,
           CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS BIGINT)
               + 61200 AS hi
    FROM events
)
SELECT w.day, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS sum_value
FROM events e
JOIN w ON CAST(floor(epoch(e.ts)) AS BIGINT) BETWEEN w.lo AND w.hi
GROUP BY w.day
"""


# --- rj3: interval x interval overlap -----------------------------------

N_PROMOS, PROMO_STRIDE_D, PROMO_LEN_D, ORDER_LEN_D = 10, 220, 13, 6
EPOCH_DATE = "1995-01-01"


def q_rj3_promo_overlap(spark, sf_dir):
    """Overlap-join order fulfillment windows [orderdate, +6d] against
    ten 14-day promo windows, exactly once per overlapping pair via the
    first-shared-bucket rule (operators/rangejoin.py). Day arithmetic is
    integer days since 1995-01-01 on both engines."""
    orders = _t(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(EPOCH_DATE).cast("date")
        ).cast("long").alias("o_lo"),
        "o_totalprice",
    )
    orders = orders.withColumn("o_hi", F.col("o_lo") + ORDER_LEN_D)
    promos = spark.range(N_PROMOS).select(
        F.col("id").alias("promo_id"),
        (F.col("id") * PROMO_STRIDE_D).alias("p_lo"),
        (F.col("id") * PROMO_STRIDE_D + PROMO_LEN_D).alias("p_hi"),
    )
    joined = interval_overlap_join(
        orders, promos, "o_lo", "o_hi", "p_lo", "p_hi"  # auto width
    )
    return joined.groupBy("promo_id").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("promo_exposure"),
    )


SQL_RJ3 = """
WITH promo AS (
    SELECT CAST(range AS BIGINT) AS promo_id,
           range * 220 AS p_lo, range * 220 + 13 AS p_hi
    FROM range(0, 10)
), o AS (
    SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS o_lo,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) + 6
               AS o_hi,
           o_totalprice
    FROM orders
)
SELECT promo_id, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS promo_exposure
FROM o JOIN promo ON o.o_lo <= promo.p_hi AND promo.p_lo <= o.o_hi
GROUP BY promo_id
"""


# --- ts1/ts2: hypertable rollups ----------------------------------------

FINE_W, COARSE_W = 6 * 3600, 24 * 3600


def q_ts_bucket_rollup(spark, sf_dir):
    """Continuous aggregate: events onto a 6-hour UTC grid per
    event_type — one shuffle, decomposable partials, derived mean at
    select time (operators/timeseries.py)."""
    ev = _t(spark, sf_dir, "events")
    agg = continuous_aggregate(ev, "ts", FINE_W, ["event_type"], "value")
    return agg.select(
        "bucket_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


SQL_TS1 = """
SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


def q_ts_rollup_two_level(spark, sf_dir):
    """The hypertable point: the DAILY rollup reaggregates the 6-hour
    rollup (sum of sums, sum of counts, min of mins) — raw events are
    scanned once, at the finest grid. The oracle computes the daily
    stats straight from raw events, so a hash match proves the
    reaggregation algebra is exact, not approximately right."""
    ev = _t(spark, sf_dir, "events")
    fine = continuous_aggregate(ev, "ts", FINE_W, ["event_type"], "value")
    daily = reaggregate(fine, COARSE_W, ["event_type"], fine_width_seconds=FINE_W)
    return daily.select(
        "bucket_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


SQL_TS2 = """
SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


# --- mm: audio modality -------------------------------------------------


def q_mm_decode_wav(spark, sf_dir):
    """Audio twin of mm_decode_pixels: generate a real 16-bit mono PCM
    WAV per document (deterministic samples from doc_id), decode it
    back through the stdlib ``wave`` parser, and compute amplitude
    stats over the DECODED int16 samples. The sample pattern is
    closed-form ((doc_id*7 + i*13) % 2048 - 1024), so the oracle
    computes expected stats arithmetically — a hash match proves the
    encode -> RIFF bytes -> decode roundtrip is bit-faithful, giving
    the multimodal seam a third format and a second modality
    (operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_wav_payload(docs, "doc_id")
    return extract_audio_features(assets)


SQL_MM_WAV = """
WITH n AS (
    SELECT doc_id, doc_id % 32 + 16 AS ns FROM documents
), s AS (
    SELECT n.doc_id, n.ns,
           SUM((n.doc_id * 7 + i.i * 13) % 2048 - 1024) AS amp_sum,
           SUM(((n.doc_id * 7 + i.i * 13) % 2048 - 1024)
               * ((n.doc_id * 7 + i.i * 13) % 2048 - 1024)) AS sq_sum
    FROM n JOIN generate_series(0, 47) i(i) ON i.i < n.ns
    GROUP BY n.doc_id, n.ns
)
SELECT doc_id, CAST(ns AS INTEGER) AS n_samples, 8000 AS sample_rate,
       CAST(amp_sum AS BIGINT) AS amp_sum, CAST(sq_sum AS BIGINT) AS sq_sum,
       'audio/wav' AS media_type
FROM s
"""


# --- fmt: text-format reader round-trips --------------------------------


def _fmt_agg(ev):
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.length("props")).cast("long").alias("props_chars"),
        F.date_format(F.max("ts"), TS_FMT).alias("max_ts"),
    )


def q_fmt_csv_events(spark, sf_dir):
    """events written as RFC-4180 CSV and read back through
    readers.read_csv (explicit schema, quote-doubling) — the oracle
    computes the same aggregate from the ORIGINAL parquet, so lost
    timestamp micros, mangled doubles, or a quoting bug on the
    comma-riddled props column flips the hash
    (sources/format_fixture.py)."""
    return _fmt_agg(events_from_csv(spark, sf_dir))


def q_fmt_json_events(spark, sf_dir):
    """Same round-trip through newline-delimited JSON
    (readers.read_json, explicit schema — no inference pass)."""
    return _fmt_agg(events_from_json(spark, sf_dir))


SQL_FMT = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(LENGTH(props)) AS BIGINT) AS props_chars,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
FROM events GROUP BY event_type
"""


def q_fmt_orc_events(spark, sf_dir):
    """Typed-columnar round-trip: timestamps travel natively through
    ORC, no string leg (sources/format_fixture.py)."""
    return _fmt_agg(events_from_orc(spark, sf_dir))


def q_fmt_xml_events(spark, sf_dir):
    """Same round-trip through XML (Spark 4's native xml source, one
    <event> element per row) — entity escaping on the special-character
    props column is what a sloppy serializer corrupts
    (sources/format_fixture.py events_from_xml)."""
    from stockpy_spark.sources.format_fixture import events_from_xml

    return _fmt_agg(events_from_xml(spark, sf_dir))


# --- emb: exact per-label centroids -------------------------------------


def q_emb_label_centroids(spark, sf_dir):
    """Exact per-label embedding centroid in long (label, dim, value)
    form — posexplode + map-side-combined groupBy, never a
    collect_list-per-label (operators/similarity.py:label_centroids).
    The supervised twin of ivf_centroids' seed step."""
    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb, "embedding", "label", round_to=6).select(
        F.col("label").cast("int").alias("label"),
        F.col("dim").cast("int").alias("dim"),
        "centroid",
    )


SQL_EMB_CENTROIDS = """
SELECT CAST(label AS INTEGER) AS label,
       CAST(i AS INTEGER) AS dim,
       ROUND(AVG(embedding[i + 1]), 6) AS centroid
FROM embeddings JOIN range(0, 64) t(i) ON TRUE
GROUP BY label, i
"""


# --- merge: upsert emulation --------------------------------------------

MERGE_BASE_END, MERGE_UPD_LO, MERGE_UPD_HI = "2024-01-20", "2024-01-15", "2024-01-25"


def q_merge_incremental_upsert(spark, sf_dir):
    """MERGE INTO emulated on plain parquet (operators/merge.py): base =
    events through Jan 20; update feed = events Jan 15-25 with value
    doubled. Colliding event_ids (Jan 15-20) must take the doubled
    value, Jan 21-25 rows must appear once, Jan 1-14 rows must survive
    — the post-merge aggregate hash catches double-counted collisions,
    dropped inserts, and lost base rows alike."""
    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts"))
    base = ev.where(d <= F.lit(MERGE_BASE_END))
    updates = ev.where(
        (d >= F.lit(MERGE_UPD_LO)) & (d <= F.lit(MERGE_UPD_HI))
    ).withColumn("value", F.col("value") * 2)
    merged = merge_upsert(base, updates, "event_id")
    return merged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


SQL_MERGE = """
WITH base AS (
    SELECT * FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
), upd AS (
    SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-15' AND DATE '2024-01-25'
), merged AS (
    SELECT * FROM base
    WHERE event_id NOT IN (SELECT event_id FROM upd)
    UNION ALL
    SELECT * FROM upd
)
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM merged GROUP BY event_type
"""


def q_sample_stratified(spark, sf_dir):
    """Exactly 20 docs per language, deterministically (md5-permuted
    within stratum, salt-switchable, rerun/engine/partition-stable) —
    the class-balancing primitive df.sampleBy cannot provide
    (operators/sampling.py:stratified_sample_exact)."""
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, "lang", "doc_id", k=20).select(
        "doc_id", "lang"
    )


SQL_STRATIFIED = """
WITH ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('strata' || chr(31) || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
"""


def q_ts_gap_fill_locf(spark, sf_dir):
    """Dense per-user daily grid with last-observation-carried-forward
    (operators/timeseries.py:gap_fill_locf): every user gets every
    observed day; days without events carry the user's latest earlier
    value, NULL before the first. Deterministic last-per-day via
    (ts, event_id) tiebreak."""
    ev = _t(spark, sf_dir, "events")
    return gap_fill_locf(ev, "user_id", "ts", "value", "event_id")


SQL_TS_LOCF = """
WITH ranked AS (
    SELECT user_id,
           CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
           value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id,
                            CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
), obs AS (
    SELECT user_id, bucket_start, value FROM ranked WHERE rn = 1
), grid AS (
    SELECT u.user_id, b.bucket_start
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (
        SELECT DISTINCT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
            AS bucket_start
        FROM events
    ) b
)
SELECT g.user_id, g.bucket_start,
       last_value(o.value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf
FROM grid g LEFT JOIN obs o USING (user_id, bucket_start)
"""


def q_mm_resize_pixels(spark, sf_dir):
    """Decode -> nearest-neighbor resize to 4x4 -> stats over the
    RESIZED thumbnail. The integer sample grid (src = dst*len//4) is
    reproduced arithmetically by the oracle, so a hash match proves
    decode AND resample are both exact
    (operators/multimodal.py:resize_nearest)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_bmp_payload(docs, "doc_id")
    return extract_resized_features(assets, 4, 4)


SQL_MM_RESIZE = """
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM documents
), px AS (
    SELECT d.doc_id,
           SUM((d.doc_id * 31 + ((y2.y * d.h) // 4) * 17
                + ((x2.x * d.w) // 4) * 7 + c.c * 5) % 256) AS px_sum
    FROM dims d
    JOIN generate_series(0, 3) y2(y) ON TRUE
    JOIN generate_series(0, 3) x2(x) ON TRUE
    JOIN generate_series(0, 2) c(c) ON TRUE
    GROUP BY d.doc_id
)
SELECT doc_id, 4 AS width, 4 AS height, CAST(px_sum AS BIGINT) AS px_sum,
       CAST(px_sum AS DOUBLE) / 48.0 AS mean_lum,
       'image/bmp' AS media_type
FROM px
"""


def q_ts_hopping_rollup(spark, sf_dir):
    """Overlapping 6h windows sliding every 2h, per event_type — each
    event fans out to its 3 covering windows map-side (no self-join),
    one grouped agg (operators/timeseries.py:hopping_window_rollup;
    streaming twin: F.window(ts, '6 hours', '2 hours'))."""
    ev = _t(spark, sf_dir, "events")
    agg = hopping_window_rollup(ev, "ts", 6 * 3600, 2 * 3600, ["event_type"], "value")
    return agg.select(
        "window_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


SQL_TS_HOP = """
SELECT CAST(floor(epoch(ts) / 7200) * 7200 - i.i * 7200 AS BIGINT)
           AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events JOIN generate_series(0, 2) i(i) ON TRUE
GROUP BY 1, 2
"""


def q_text_rolling_fingerprint(spark, sf_dir):
    """Rabin-Karp polynomial rolling hash of each document's first 256
    chars (functions/text.py:fingerprint_rolling) — the incremental
    fingerprint the brief names, reproduced bit-for-bit by the oracle's
    list_reduce fold over the same codepoints."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fingerprint_rolling("text").alias("rhash")
    )


SQL_TEXT_RHASH = """
SELECT doc_id,
       list_reduce(
           list_prepend(
               CAST(0 AS BIGINT),
               list_transform(
                   range(1, least(length(text), 256) + 1),
                   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)
               )
           ),
           (acc, cp) -> (acc * 131 + cp) % 1000000007
       ) AS rhash
FROM documents
"""


TS_QUERIES = {
    "rj1_price_band": (q_rj1_price_band, SQL_RJ1),
    "rj2_event_windows": (q_rj2_event_windows, SQL_RJ2),
    "rj3_promo_overlap": (q_rj3_promo_overlap, SQL_RJ3),
    "ts_bucket_rollup": (q_ts_bucket_rollup, SQL_TS1),
    "ts_rollup_two_level": (q_ts_rollup_two_level, SQL_TS2),
    "mm_decode_wav": (q_mm_decode_wav, SQL_MM_WAV),
    "fmt_csv_events": (q_fmt_csv_events, SQL_FMT),
    "fmt_json_events": (q_fmt_json_events, SQL_FMT),
    "fmt_orc_events": (q_fmt_orc_events, SQL_FMT),
    "fmt_xml_events": (q_fmt_xml_events, SQL_FMT),
    "emb_label_centroids": (q_emb_label_centroids, SQL_EMB_CENTROIDS),
    "merge_incremental_upsert": (q_merge_incremental_upsert, SQL_MERGE),
    "sample_stratified": (q_sample_stratified, SQL_STRATIFIED),
    "ts_gap_fill_locf": (q_ts_gap_fill_locf, SQL_TS_LOCF),
    "mm_resize_pixels": (q_mm_resize_pixels, SQL_MM_RESIZE),
    "ts_hopping_rollup": (q_ts_hopping_rollup, SQL_TS_HOP),
    "text_rolling_fingerprint": (q_text_rolling_fingerprint, SQL_TEXT_RHASH),
}
