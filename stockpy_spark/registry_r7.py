"""Round-7 query families.

mm_gif_frames closes the last multimodal gap the round-6 verdict named:
multi-frame (video-like) decode behind the codec seam. The payload is a
REAL animated GIF89a (Netscape loop extension, per-frame graphic
control + local color table + LZW stream — operators/multimodal.py
encode_gif_animated), decoded frame-by-frame through the compositing
decoder (decode_gif_frames) and frame-SAMPLED (every 2nd frame — the
video frame-sampling shape). The frame pattern is closed-form, so the
oracle states every sampled frame's pixel stats arithmetically; a hash
match proves the multi-frame container roundtrip, the canvas
compositing, and the sampling grid all at once.

Reference parity: none (the reference is tabular-only); this is the
multimodal extension surface of SURVEY.md §2's LLM-pipeline shelf.
"""

from __future__ import annotations

from stockpy_spark.operators.multimodal import (
    attach_gif_anim_payload,
    extract_frame_features,
)
from stockpy_spark.sources.testdata import _t
from stockpy_spark.registry_r6b import _SQL_KMEANS_CTES


def q_mm_gif_frames(spark, sf_dir):
    """Animated-GIF frame extraction: encode doc_id % 3 + 2 closed-form
    frames per document — frame 0 opaque, every later frame carrying
    GCE TRANSPARENCY (checkerboard holes showing the base frame) and
    DISPOSAL 3 (restore-to-previous) — decode ALL frames back (LZW +
    full compositing model), keep every 2nd frame, and emit per-frame
    pixel stats. The oracle states each composited canvas arithmetically
    (transparent positions resolve to the frame-0 pattern), so a decoder
    that drops transparency or mishandles disposal 3 hash-mismatches."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # per-doc codec CPU on a single small parquet split serializes
    # onto one core (the mm_video_frames/gopher lesson); the ~40 KB
    # doc-id repartition is the declared ledger move for this fix.
    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    assets = attach_gif_anim_payload(docs, "doc_id")
    return extract_frame_features(assets, every_k=2)


SQL_MM_GIF_FRAMES = """
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h,
           doc_id % 3 + 2 AS nf
    FROM documents
), px AS (
    SELECT d.doc_id, f.f AS frame_id, d.w, d.h,
           SUM((d.doc_id * 31
                + CASE WHEN f.f > 0 AND (x.x + y.y + f.f) % 2 = 0
                       THEN 0 ELSE f.f END * 13
                + y.y * 17 + x.x * 7 + c.c * 5)
               % 256) AS px_sum
    FROM dims d
    JOIN generate_series(0, 3) f(f) ON f.f < d.nf AND f.f % 2 = 0
    JOIN generate_series(0, 8) y(y) ON y.y < d.h
    JOIN generate_series(0, 10) x(x) ON x.x < d.w
    JOIN generate_series(0, 2) c(c) ON TRUE
    GROUP BY d.doc_id, f.f, d.w, d.h
)
SELECT doc_id,
       CAST(frame_id AS INTEGER) AS frame_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(px_sum AS BIGINT) AS px_sum,
       CAST(px_sum AS DOUBLE) / CAST(w * h * 3 AS DOUBLE) AS mean_lum
FROM px
"""


def q_semdedup_prune(spark, sf_dir):
    """SemDeDup over the embeddings table: deterministic k-means into 8
    clusters, then within-cluster min-id pruning at cosine >= 0.4
    (operators/similarity.py semantic_dedup). Runs the ARROW engine —
    numpy matmul cosine kernels for assignment and the per-cluster
    prune matrix, pytest-pinned identical to the expression spec and
    41x faster at the synthetic sf10 (204 -> 5.0 s; interpreted
    zip_with/aggregate HOFs were the whole cost — BASELINE.md §4). The
    oracle replays the full pipeline — the same k-means CTE chain the
    emb_kmeans_* gates pin, plus a NOT EXISTS over cluster-mates — so
    the iterative clustering AND the pruning rule sit under one exact
    hash."""
    from stockpy_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "embedding", "vec_id", k=8, threshold=0.4, engine="arrow"
    )


SQL_SEMDEDUP = _SQL_KMEANS_CTES + """
, mem AS (
    SELECT f.vec_id, f.cid, f.sim, vv.ev
    FROM (SELECT vec_id, cid, sim FROM fin WHERE rn = 1) f
    JOIN v vv ON vv.vec_id = f.vec_id
)
SELECT a.vec_id, a.cid, a.sim
FROM mem a
WHERE NOT EXISTS (
    SELECT 1 FROM mem b
    WHERE b.cid = a.cid AND b.vec_id < a.vec_id
      AND round(list_cosine_similarity(b.ev, a.ev), 6) >= 0.4
)
"""


def q_gate_heavy_hitters(spark, sf_dir):
    """Misra-Gries frequency sketch gate (operators/sketches.py
    heavy_hitters_quality, k=16): the skewed item column
    floor(sqrt(doc_id)) makes item v appear ~2v+1 times (linear skew),
    so the true hitter set is exactly the items whose count * 16
    exceeds the corpus size. Gate: every true hitter found in the
    <= 16-counters-per-partition candidate set with undercount within
    N/16 — the partitioning-independent MG guarantee, hashed against
    the oracle's exact counts + literal flags."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import heavy_hitters_quality

    docs = _t(spark, sf_dir, "documents").select(
        F.floor(F.sqrt(F.col("doc_id"))).cast("long").alias("item")
    )
    return heavy_hitters_quality(docs, "item", k=16)


SQL_GATE_MG = """
WITH v AS (
    SELECT CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR) AS item
    FROM documents WHERE doc_id IS NOT NULL
), n AS (SELECT count(*) AS total FROM v),
e AS (SELECT item, CAST(count(*) AS BIGINT) AS exact FROM v GROUP BY 1)
SELECT e.item, e.exact, 1 AS found, 1 AS est_ok
FROM e, n WHERE e.exact * 16 > n.total
"""


# --- mergeable-sketch families 2 and 3 (KLL quantiles, theta set ops) ----

def q_gate_kll_rollup(spark, sf_dir):
    """Two-level QUANTILE rollup via mergeable KLL sketches: daily
    value sketches merged to weekly with kll_merge_agg_double — weekly
    p25/p50/p75 WITHOUT rescanning raw events (exact percentiles are
    holistic; the sketch is what makes them roll up). Gate: the exact
    rank of each weekly estimate within 5 points of the target
    (operators/sketches.py kll_rollup_quality)."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import kll_rollup_quality

    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return kll_rollup_quality(
        ev, "ts", "value", fine_seconds=86_400, coarse_seconds=604_800
    )


SQL_GATE_KLL = """
WITH b AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS fine
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT fine * 86400 // 604800 * 604800 AS bucket_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT fine) AS BIGINT) AS n_fine_buckets,
       1 AS ok_q25, 1 AS ok_q50, 1 AS ok_q75
FROM b GROUP BY 1
"""


def q_gate_theta_overlap(spark, sf_dir):
    """Audience-overlap algebra via theta sketches — distinct counting
    WITH set operations: viewers, purchasers, their union,
    intersection ("viewed AND purchased"), and difference ("viewed,
    never purchased"), each a KB-sized sketch op instead of a
    distinct-key join; gated at 5% relative error vs the exact counts
    (operators/sketches.py theta_overlap_quality)."""
    from stockpy_spark.operators.sketches import theta_overlap_quality
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir)
    return theta_overlap_quality(ev, "event_type", "user_id", "view", "purchase")


SQL_GATE_THETA = """
WITH ks AS (
    SELECT event_type AS seg, user_id AS k FROM events
    WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
), a AS (SELECT DISTINCT k FROM ks WHERE seg = 'view'),
   b AS (SELECT DISTINCT k FROM ks WHERE seg = 'purchase')
SELECT 'view' AS measure, CAST((SELECT count(*) FROM a) AS BIGINT) AS exact,
       1 AS gate_ok
UNION ALL
SELECT 'purchase', CAST((SELECT count(*) FROM b) AS BIGINT), 1
UNION ALL
SELECT 'union',
       CAST((SELECT count(*) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS BIGINT), 1
UNION ALL
SELECT 'intersection',
       CAST((SELECT count(*) FROM a WHERE k IN (SELECT k FROM b)) AS BIGINT), 1
UNION ALL
SELECT 'difference',
       CAST((SELECT count(*) FROM a WHERE k NOT IN (SELECT k FROM b)) AS BIGINT), 1
"""


# --- two-feature OLS from exact moments ----------------------------------

def q_stats_ols2(spark, sf_dir):
    """Per-event-type two-feature OLS value ~ b0 + b1*day + b2*hour
    from ONE moment-aggregation pass (operators/stats.py ols2_by_group
    — Cramer over the 3x3 normal equations; integer features + decimal
    target make every moment sum exact on both engines, so the whole
    fit sits under the value-hash oracle, not a tolerance gate)."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.stats import ols2_by_group
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    sec = F.col("ts").cast("timestamp").cast("long")
    prepared = ev.select(
        "event_type",
        F.floor(sec / 86400).cast("int").alias("x1"),
        F.floor((sec % 86400) / 3600).cast("int").alias("x2"),
        F.round(F.col("value"), 4).cast("decimal(18,4)").alias("y"),
    )
    out = ols2_by_group(prepared, "event_type", "y", "x1", "x2")
    return out.withColumnRenamed("grp", "event_type")


# The doubles must match bit-for-bit, so the Cramer expansion below is
# written term-for-term in the SAME operation order as the Python det3
# template: m00*(m11*m22 - m12*m21) - m01*(m10*m22 - m12*m20)
#         + m02*(m10*m21 - m11*m20).
SQL_OLS2 = """
WITH p AS (
    SELECT event_type,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS INTEGER) AS x1,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) % 86400 // 3600 AS INTEGER) AS x2,
           CAST(round(value, 4) AS DECIMAL(18,4)) AS y
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), ms AS (
    SELECT event_type, count(*) AS n,
           sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
           sum(x1 * x1) AS sx11, sum(x2 * x2) AS sx22,
           sum(x1 * x2) AS sx12,
           sum(x1 * y) AS sx1y, sum(x2 * y) AS sx2y
    FROM p GROUP BY event_type
), d AS (
    SELECT event_type, n,
           CAST(n AS DOUBLE) AS dn,
           CAST(sx1 AS DOUBLE) AS s1, CAST(sx2 AS DOUBLE) AS s2,
           CAST(sy AS DOUBLE) AS sy,
           CAST(sx11 AS DOUBLE) AS s11, CAST(sx22 AS DOUBLE) AS s22,
           CAST(sx12 AS DOUBLE) AS s12,
           CAST(sx1y AS DOUBLE) AS s1y, CAST(sx2y AS DOUBLE) AS s2y
    FROM ms
), dets AS (
    SELECT event_type, n,
           dn * (s11 * s22 - s12 * s12)
             - s1 * (s1 * s22 - s12 * s2)
             + s2 * (s1 * s12 - s11 * s2) AS det,
           sy * (s11 * s22 - s12 * s12)
             - s1 * (s1y * s22 - s12 * s2y)
             + s2 * (s1y * s12 - s11 * s2y) AS det0,
           dn * (s1y * s22 - s12 * s2y)
             - sy * (s1 * s22 - s12 * s2)
             + s2 * (s1 * s2y - s1y * s2) AS det1,
           dn * (s11 * s2y - s1y * s12)
             - s1 * (s1 * s2y - s1y * s2)
             + sy * (s1 * s12 - s11 * s2) AS det2
    FROM d
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN round(det, 6) = 0 THEN NULL
            ELSE round(det0 / det, 6) END AS b0,
       CASE WHEN round(det, 6) = 0 THEN NULL
            ELSE round(det1 / det, 6) END AS b1,
       CASE WHEN round(det, 6) = 0 THEN NULL
            ELSE round(det2 / det, 6) END AS b2
FROM dets
"""


# --- bounded weighted shortest paths -------------------------------------

def q_graph_sssp_weighted(spark, sf_dir):
    """Multi-source WEIGHTED shortest paths (<= 2 edges) over the
    co-purchase graph from the p_size=50 seed parts, edge cost
    (src + dst) % 7 + 1 — Bellman-Ford delta-frontier rounds
    (operators/graph.py weighted_sssp_hops), the weighted
    generalization of graph_bfs_hops, under the exact recursive-CTE
    oracle (integer costs -> exact min-plus sums). Fifth iterative
    distributed algorithm under a full value hash."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.graph import weighted_sssp_hops

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # a<b orientation; the operator symmetrizes. NO .distinct() — the
    # min-plus rounds absorb duplicate edges map-side (bfs_hops policy)
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
        ((F.col("a.l_partkey") + F.col("b.l_partkey")) % 7 + 1)
        .cast("long")
        .alias("w"),
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("v"))
    )
    out = weighted_sssp_hops(edges, seeds, max_hops=2)
    return out.select(F.col("v").alias("part"), F.col("dist").alias("dist"))


SQL_SSSP = """
WITH RECURSIVE e AS (
    SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d,
           (a.l_partkey + b.l_partkey) % 7 + 1 AS w
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
), seeds AS (
    SELECT DISTINCT p_partkey AS v FROM part WHERE p_size = 50
), walk(v, dist, hops) AS (
    SELECT v, CAST(0 AS BIGINT), 0 FROM seeds
    UNION
    SELECT e.d, walk.dist + e.w, hops + 1
    FROM walk JOIN e ON e.s = walk.v
    WHERE hops < 2
)
SELECT v AS part, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY v
"""


# --- seasonality-adjusted outlier screen ----------------------------------

def q_ts_seasonal_outliers(spark, sf_dir):
    """Hour-of-week seasonal profile per event_type + count of events
    beyond 3 sigma of THEIR OWN phase's mean (operators/timeseries.py
    seasonal_outlier_counts) — the screen that distinguishes "low" from
    "low even for 3am Sunday", which a raw rolling z-score flags
    wrongly during normal seasonal swings. Two decomposable passes, a
    KB profile broadcast, no windows."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.timeseries import seasonal_outlier_counts
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir)
    return seasonal_outlier_counts(ev, "ts", "value", "event_type")


SQL_SEASONAL = """
WITH base AS (
    SELECT event_type AS key,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) // 3600 % 168 AS INTEGER)
               AS phase,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), prof AS (
    SELECT key, phase, count(*) AS n, round(avg(v), 6) AS seasonal_mean
    FROM base GROUP BY 1, 2
), sp AS (
    SELECT key, round(stddev_samp(v), 6) AS sigma FROM base GROUP BY 1
)
SELECT b.key AS event_type, b.phase,
       CAST(min(p.n) AS BIGINT) AS n,
       min(p.seasonal_mean) AS seasonal_mean,
       CAST(SUM(CASE WHEN abs(b.v - p.seasonal_mean) > 3.0 * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM base b
JOIN prof p ON b.key = p.key AND b.phase = p.phase
JOIN sp s ON b.key = s.key
GROUP BY 1, 2
"""


# --- snapshot diff (table-version regression check) ----------------------

def q_dq_snapshot_diff(spark, sf_dir):
    """Diff two deterministic 'snapshots' of orders (old drops keys
    %97==0; new drops %89==0 and bumps o_totalprice by 10% on %7==0):
    one full-outer key join + ONE classifying aggregate ->
    added/removed/changed/unchanged + per-column change counts
    (operators/quality.py snapshot_diff, NULL-safe comparisons). The
    regression check a daily rebuild runs before publishing."""
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    from stockpy_spark.operators.quality import snapshot_diff

    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


# only COUNTS surface, so the 10%-bump value itself (whose half-up vs
# half-even rounding could differ cross-engine on exact boundaries)
# never reaches the hash — changed-ness is identical either way.
SQL_SNAPSHOT_DIFF = """
WITH o AS (
    SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
    FROM orders WHERE o_orderkey % 97 <> 0
), n AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 1.1, 2)
                ELSE o_totalprice END AS p,
           o_orderstatus AS s
    FROM orders WHERE o_orderkey % 89 <> 0
), j AS (
    SELECT o.k IS NOT NULL AS io, n.k IS NOT NULL AS inw,
           CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                     AND o.p IS DISTINCT FROM n.p THEN 1 ELSE 0 END AS cp,
           CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                     AND o.s IS DISTINCT FROM n.s THEN 1 ELSE 0 END AS cs
    FROM o FULL JOIN n ON o.k = n.k
)
SELECT CAST(SUM(CASE WHEN io THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       CAST(SUM(CASE WHEN inw THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN NOT io THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN NOT inw THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN io AND inw AND cp + cs > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN io AND inw AND cp + cs = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unchanged,
       CAST(SUM(cp) AS BIGINT) AS changed_o_totalprice,
       CAST(SUM(cs) AS BIGINT) AS changed_o_orderstatus
FROM j
"""


# --- grouped HLL rollup (dimension axis of the sketch shelf) --------------

def q_gate_hll_by_type(spark, sf_dir):
    """Per-(event_type, week) distinct-user rollup from daily HLL
    sketches — the GROUPED axis of hll_bucket_sketches/hll_merge_rollup
    (the r6 gate exercised only the global grid): sketches keyed by a
    dimension merge within their dimension, the per-segment
    distinct-users-per-week question every product dashboard asks.
    Same 5% gate vs the exact verify tier, epoch-BIGINT surface.
    event_type is declared non-null: the sketch-vs-exact INNER JOIN
    would drop a NULL dimension group that the oracle's GROUP BY keeps
    (null join keys never match in Spark) — same regeneration-proofing
    as ts_ewma's ts contract."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import (
        hll_bucket_sketches,
        hll_merge_rollup,
    )
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    fine = hll_bucket_sketches(
        ev, "ts", "user_id", 86_400, group_cols=["event_type"]
    )
    merged = hll_merge_rollup(fine, 604_800, group_cols=["event_type"])
    coarse = F.timestamp_seconds(
        (F.col("ts").cast("timestamp").cast("long") / 604_800).cast("long")
        * 604_800
    )
    exact = ev.groupBy("event_type", coarse.alias("bucket_start")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        merged.join(exact, ["event_type", "bucket_start"])
        .select(
            "event_type",
            F.col("bucket_start").cast("long").alias("bucket_epoch"),
            "exact_distinct",
            "n_fine_buckets",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(0.05)
            ).cast("int").alias("gate_rel_err_ok"),
        )
    )


SQL_GATE_HLL_TYPE = """
WITH wk AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) // 604800 * 604800 AS bucket_epoch,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400   AS day_start,
           user_id
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
)
SELECT event_type, bucket_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT day_start) AS BIGINT) AS n_fine_buckets,
       1 AS gate_rel_err_ok
FROM wk GROUP BY event_type, bucket_epoch
"""


# --- temporal burst dedup -------------------------------------------------

def q_dedup_temporal(spark, sf_dir):
    """First-of-burst keeper over (user_id, event_type) with a 1-day
    chain tolerance (operators/dedup.py temporal_dedup_first) — the
    double-fire/retry-storm cleaner: near-in-TIME duplicates, not
    equal-in-value ones. Surfaces the surviving events' identity with
    epoch BIGINTs."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.dedup import temporal_dedup_first
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    kept = temporal_dedup_first(
        ev, ["user_id", "event_type"], "ts", 86_400, "event_id"
    )
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("epoch_s"),
    )


SQL_DEDUP_TEMPORAL = """
WITH seq AS (
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
           ) AS prev_s
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
)
SELECT event_id, user_id, event_type, epoch_s
FROM seq WHERE prev_s IS NULL OR epoch_s - prev_s > 86400
"""


def q_mm_video_frames(spark, sf_dir):
    """MJPEG-in-AVI video frames under the fidelity-gate contract
    (r14 — converts the 'video is a seam' line into shipped surface
    with zero external libs): encode doc_id % 3 + 2 closed-form
    frames as independent quality-100 JPEGs inside a real AVI RIFF
    container (operators/multimodal.py encode_avi_mjpeg: avih/strh/
    strf headers, word-aligned 00dc movi chunks, idx1 keyframe
    index), STRUCTURALLY re-parse the container (RIFF chunk walk, no
    fixed offsets; header frame-count/dims cross-checked against the
    stream), JPEG-decode every 2nd frame (the video frame-sampling
    shape), and gate max |decoded - source| <= 4 per channel (the
    measured quality-100 bound is 2 — gate_jpeg_fidelity's lossy-
    codec oracle pattern). The oracle states the sampled (doc_id,
    frame_id, dims) grid arithmetically with a literal pass bit: a
    chunk-walk bug, header inconsistency, or JPEG regression flips
    rows or the bit and the driver goes red."""
    from stockpy_spark.operators.multimodal import (
        attach_avi_payload,
        extract_video_frame_gates,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # per-doc codec CPU: a single small parquet file yields ONE input
    # split and serializes every encode+decode onto one core (the
    # gopher-kernel lesson, registry_ext.py:1571); at real scale the
    # scan has thousands of splits and this branch never fires.
    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    assets = attach_avi_payload(docs, "doc_id")
    return extract_video_frame_gates(assets, every_k=2)


SQL_MM_VIDEO_FRAMES = """
SELECT d.doc_id,
       CAST(f.f AS INTEGER) AS frame_id,
       CAST(d.doc_id % 8 + 4 AS INTEGER) AS width,
       CAST(d.doc_id % 6 + 4 AS INTEGER) AS height,
       1 AS gate_err_ok
FROM documents d
JOIN generate_series(0, 3) f(f)
  ON f.f < d.doc_id % 3 + 2 AND f.f % 2 = 0
"""


R7_QUERIES: dict[str, tuple] = {
    "mm_gif_frames": (q_mm_gif_frames, SQL_MM_GIF_FRAMES),
    "mm_video_frames": (q_mm_video_frames, SQL_MM_VIDEO_FRAMES),
    "semdedup_prune": (q_semdedup_prune, SQL_SEMDEDUP),
    "gate_kll_rollup": (q_gate_kll_rollup, SQL_GATE_KLL),
    "gate_theta_overlap": (q_gate_theta_overlap, SQL_GATE_THETA),
    "gate_heavy_hitters": (q_gate_heavy_hitters, SQL_GATE_MG),
    "stats_ols2": (q_stats_ols2, SQL_OLS2),
    "graph_sssp_weighted": (q_graph_sssp_weighted, SQL_SSSP),
    "ts_seasonal_outliers": (q_ts_seasonal_outliers, SQL_SEASONAL),
    "dq_snapshot_diff": (q_dq_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "dedup_temporal": (q_dedup_temporal, SQL_DEDUP_TEMPORAL),
    "gate_hll_by_type": (q_gate_hll_by_type, SQL_GATE_HLL_TYPE),
}
