"""Round-6 fifth-wave families: Welch's t-test (experiment analysis),
bivariate Mahalanobis outlier screening, Shannon entropy column
profiling, and deterministic contrastive negative-pair sampling.

All four carry full DuckDB value-hash oracles. The t-test and
Mahalanobis queries mirror the exact (count/sum/sum-of-squares)
moment algebra in both engines; the negative sampler is a pure
function of md5(salt, id) like every sampling operator in this repo,
so the oracle replays the identical pairing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.sampling import negative_pair_sample
from stockpy_spark.operators.stats import (
    categorical_entropy,
    mahalanobis_outliers_2d,
    welch_ttest,
)
from stockpy_spark.sources.testdata import _t

R6E_QUERIES: dict = {}


# --- Welch two-sample t-test ---------------------------------------------

def q_stats_welch_ttest(spark, sf_dir):
    """Welch's t-test on click vs purchase event values
    (operators/stats.py:welch_ttest): one moments aggregate per side,
    1-row broadcast cross, Welch-Satterthwaite df — the
    "did the mean move" companion of the PSI/KS drift screens."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    return welch_ttest(ref, cur, "value")


SQL_WELCH = """
WITH r AS (
    SELECT CAST(count(*) AS BIGINT) AS n, sum(value) AS s,
           sum(value * value) AS ss
    FROM events WHERE event_type = 'click' AND value IS NOT NULL
), c AS (
    SELECT CAST(count(*) AS BIGINT) AS n, sum(value) AS s,
           sum(value * value) AS ss
    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), d AS (
    SELECT r.n AS n_ref, c.n AS n_cur,
           r.s / CAST(r.n AS DOUBLE) AS m1, c.s / CAST(c.n AS DOUBLE) AS m2,
           ((r.ss - r.s * r.s / CAST(r.n AS DOUBLE)) / (CAST(r.n AS DOUBLE) - 1))
               / CAST(r.n AS DOUBLE) AS se1,
           ((c.ss - c.s * c.s / CAST(c.n AS DOUBLE)) / (CAST(c.n AS DOUBLE) - 1))
               / CAST(c.n AS DOUBLE) AS se2
    FROM r, c
)
SELECT n_ref, n_cur,
       round(m1, 6) AS mean_ref, round(m2, 6) AS mean_cur,
       round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
       round(pow(se1 + se2, 2)
             / (pow(se1, 2) / (n_ref - 1) + pow(se2, 2) / (n_cur - 1)),
             6) AS df
FROM d
"""


# --- bivariate Mahalanobis outliers --------------------------------------

def q_dq_mahalanobis_outliers(spark, sf_dir):
    """Correlation-aware outlier screen over (l_quantity,
    l_extendedprice) (operators/stats.py:mahalanobis_outliers_2d,
    closed-form 2-D inverse, one moments census broadcast back). The
    synthetic columns are near-uniform (no heavy tails: max md2 ~ 5.9
    where a Gaussian 0.1% cut sits at 13.8), so the query cuts at the
    empirical 99.9% band — the OPERATOR takes the caller's chi-square
    threshold unchanged on real data."""
    li = _t(spark, sf_dir, "lineitem")
    return mahalanobis_outliers_2d(
        li,
        keys=["l_orderkey", "l_linenumber"],
        col_x="l_quantity",
        col_y="l_extendedprice",
        threshold=5.7,
    )


SQL_MAHAL = """
WITH m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
           sum(l_quantity * l_quantity) AS sxx,
           sum(l_extendedprice * l_extendedprice) AS syy,
           sum(l_quantity * l_extendedprice) AS sxy
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), z AS (
    SELECT l_orderkey, l_linenumber,
           l_quantity AS x, l_extendedprice AS y,
           (l_quantity - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS zx,
           (l_extendedprice - sy / n)
               / sqrt((syy - sy * sy / n) / (n - 1)) AS zy,
           ((sxy - sx * sy / n) / (n - 1))
               / sqrt(((sxx - sx * sx / n) / (n - 1))
                      * ((syy - sy * sy / n) / (n - 1))) AS r
    FROM lineitem, m
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
)
SELECT l_orderkey, l_linenumber, x, y,
       round((zx * zx - 2 * r * zx * zy + zy * zy) / (1 - r * r), 6) AS md2
FROM z
WHERE round((zx * zx - 2 * r * zx * zy + zy * zy) / (1 - r * r), 6) >= 5.7
"""


# --- Shannon entropy profile ---------------------------------------------

_ENTROPY_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate"]


def q_profile_entropy(spark, sf_dir):
    """Entropy profile of three orders columns
    (operators/stats.py:categorical_entropy): one scan melts every row
    into (col, value) pairs, one groupBy — low-cardinality status,
    mid-cardinality priority, and the ~2.4k-value date column in a
    single pass."""
    od = _t(spark, sf_dir, "orders")
    return categorical_entropy(od, _ENTROPY_COLS)


SQL_ENTROPY = """
WITH u AS (
    SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
), counts AS (
    SELECT col_name, val, count(*) AS c
    FROM u WHERE val IS NOT NULL GROUP BY 1, 2
), terms AS (
    SELECT col_name, c,
           -(c / sum(c) OVER (PARTITION BY col_name))
               * ln(c / sum(c) OVER (PARTITION BY col_name)) AS term
    FROM counts
)
SELECT col_name,
       CAST(sum(c) AS BIGINT) AS n_values,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(sum(term), 6) AS entropy,
       round(CASE WHEN count(*) > 1
                  THEN sum(term) / ln(CAST(count(*) AS DOUBLE)) END,
             6) AS norm_entropy
FROM terms
GROUP BY col_name
"""


# --- contrastive negative pairs ------------------------------------------

def q_sample_negative_pairs(spark, sf_dir):
    """Two deterministic negatives per document
    (operators/sampling.py:negative_pair_sample): md5-sharded,
    md5-ordered neighbors — the distributed "shuffled batch" negative
    draw, a pure function of (salt, doc_id) the oracle replays.
    16 shards (not the 256 default) so shard-tail truncation stays
    negligible at the oracle's 500-doc scale; at corpus scale the
    shard count trades parallelism against the k * n_shards loss."""
    docs = _t(spark, sf_dir, "documents")
    return negative_pair_sample(docs, "doc_id", k=2, n_shards=16)


SQL_NEGPAIRS = """
WITH base AS (
    SELECT doc_id AS anchor_id,
           md5('negpair' || chr(31) || CAST(doc_id AS VARCHAR)) AS h,
           CAST(concat('0x', substring(
                md5('negpair' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 16 AS shard
    FROM documents
), leads AS (
    SELECT anchor_id,
           lead(anchor_id, 1) OVER w AS n1,
           lead(anchor_id, 2) OVER w AS n2
    FROM base
    WINDOW w AS (PARTITION BY shard ORDER BY h, anchor_id)
)
SELECT anchor_id, negative_id, neg_rank FROM (
    SELECT anchor_id, n1 AS negative_id, 1 AS neg_rank FROM leads
    UNION ALL
    SELECT anchor_id, n2, 2 FROM leads
)
WHERE negative_id IS NOT NULL
"""


R6E_QUERIES.update(
    {
        "stats_welch_ttest": (q_stats_welch_ttest, SQL_WELCH),
        "dq_mahalanobis_outliers": (q_dq_mahalanobis_outliers, SQL_MAHAL),
        "profile_entropy": (q_profile_entropy, SQL_ENTROPY),
        "sample_negative_pairs": (q_sample_negative_pairs, SQL_NEGPAIRS),
    }
)


# --- key-skew profile ----------------------------------------------------

def q_dq_key_skew(spark, sf_dir):
    """Hot-key report for events.user_id
    (operators/quality.py:key_skew_profile): one groupBy + 1-row
    census + TakeOrdered top-5 — the pre-shuffle skew check every big
    join in this repo's BASELINE.md skew story starts from."""
    from stockpy_spark.operators.quality import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_k=5)


SQL_KEY_SKEW = """
WITH counts AS (
    SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY user_id
), census AS (
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n_rows) AS BIGINT) AS total,
           max(n_rows) AS max_rows
    FROM counts
), top AS (
    SELECT key, n_rows FROM counts
    ORDER BY n_rows DESC, key NULLS FIRST LIMIT 5
)
SELECT row_number() OVER (ORDER BY n_rows DESC, key NULLS FIRST) AS rank,
       key, n_rows,
       round(n_rows / total, 6) AS share,
       n_keys,
       round(total / CAST(n_keys AS DOUBLE), 6) AS mean_rows,
       round(max_rows / (total / CAST(n_keys AS DOUBLE)), 6) AS skew_ratio
FROM top, census
"""


# --- per-group Gini ------------------------------------------------------

def q_stats_gini_revenue(spark, sf_dir):
    """Order-value concentration per priority class
    (operators/stats.py:gini_by_group): exact rank-formula Gini, one
    (group, value) sort carrying both the rank and the weighted sum."""
    from stockpy_spark.operators.stats import gini_by_group

    od = _t(spark, sf_dir, "orders")
    return gini_by_group(od, "o_orderpriority", "o_totalprice", "o_orderkey")


SQL_GINI = """
WITH ranked AS (
    SELECT o_orderpriority AS grp, o_totalprice AS x,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS i
    FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT grp, CAST(count(*) AS BIGINT) AS n,
       round(sum(x), 2) AS total,
       round(2.0 * sum(i * x) / (CAST(count(*) AS DOUBLE) * sum(x))
             - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE),
             6) AS gini
FROM ranked
GROUP BY grp
"""


# --- period-over-period top movers ---------------------------------------

def q_agg_top_movers(spark, sf_dir):
    """Top-20 customers by absolute revenue change, 1996 vs 1997
    (operators/aggregate.py:top_movers): one conditional aggregate over
    a year-filtered scan — no two-subquery self-join — then
    per-partition top-k heaps. Zero-period customers stay in (a
    collapse to zero IS a mover)."""
    from stockpy_spark.operators.aggregate import top_movers

    od = _t(spark, sf_dir, "orders")
    return top_movers(
        od,
        key_col="o_custkey",
        period_col=F.year("o_orderdate"),
        period_a=1996,
        period_b=1997,
        metric_col="o_totalprice",
        k=20,
    )


SQL_TOP_MOVERS = """
WITH per AS (
    SELECT o_custkey AS key,
           round(sum(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                          THEN o_totalprice ELSE 0.0 END), 6) AS metric_a,
           round(sum(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                          THEN o_totalprice ELSE 0.0 END), 6) AS metric_b
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
    GROUP BY o_custkey
), top AS (
    SELECT key, metric_a, metric_b,
           round(metric_b - metric_a, 6) AS delta
    FROM per
    ORDER BY abs(round(metric_b - metric_a, 6)) DESC, key
    LIMIT 20
)
SELECT key, metric_a, metric_b, delta,
       row_number() OVER (ORDER BY abs(delta) DESC, key) AS rank
FROM top
"""


R6E_QUERIES.update(
    {
        "dq_key_skew": (q_dq_key_skew, SQL_KEY_SKEW),
        "stats_gini_revenue": (q_stats_gini_revenue, SQL_GINI),
        "agg_top_movers": (q_agg_top_movers, SQL_TOP_MOVERS),
    }
)


# --- matched-control sampling --------------------------------------------

def q_sample_matched_controls(spark, sf_dir):
    """Nearest-below length-matched control for every held-out doc
    (operators/sampling.py:matched_controls): eval split doc_id%10==0,
    pool the rest, caliper 25 chars — the bucketed as-of match with 2x
    pool replication, no single-task sort. Unmatched eval docs stay in
    with NULL controls."""
    from stockpy_spark.operators.sampling import matched_controls

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    pool = docs.filter(F.col("doc_id") % 10 != 0)
    return matched_controls(ev, pool, "doc_id", "n_chars", tolerance=25.0)


SQL_MATCHED = """
WITH e AS (
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS v
    FROM documents WHERE doc_id % 10 = 0
), p AS (
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS v
    FROM documents WHERE doc_id % 10 <> 0
), m AS (
    SELECT e.doc_id AS eval_id, e.v AS eval_val,
           p.doc_id AS control_id, p.v AS control_val,
           e.v - p.v AS gap,
           row_number() OVER (PARTITION BY e.doc_id
                              ORDER BY p.v DESC, p.doc_id DESC) AS rn
    FROM e LEFT JOIN p ON p.v <= e.v AND p.v >= e.v - 25.0
)
SELECT eval_id, eval_val, control_id, control_val, gap
FROM m WHERE rn = 1
"""


# --- training-mixture planner --------------------------------------------

_MIX_WEIGHTS = {
    "src0": 0.3,
    "src1": 0.2,
    "src2": 0.2,
    "src3": 0.1,
    "src4": 0.1,
    "src5": 0.05,
    "srcX": 0.05,  # deliberately absent from the data: zero-inventory row
}


def q_plan_domain_mixture(spark, sf_dir):
    """Mixture plan toward a 20k-char budget over six weighted sources
    (operators/sampling.py:mixture_plan): census join against the
    broadcast weight table; unweighted sources rate 0, the
    deliberately-missing srcX reports capped with zero inventory."""
    from stockpy_spark.operators.sampling import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    return mixture_plan(
        docs, "source", _MIX_WEIGHTS, budget_tokens=20000.0,
        size_col="n_chars",
    )


def _mix_sql() -> str:
    vals = ", ".join(
        f"('{k}', CAST({v} AS DOUBLE))" for k, v in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
WITH w(domain, target_share) AS (VALUES {vals}),
inv AS (
    SELECT source AS domain, CAST(sum(n_chars) AS DOUBLE) AS available_tokens
    FROM documents GROUP BY source
), grid AS (
    SELECT coalesce(inv.domain, w.domain) AS domain,
           coalesce(available_tokens, 0.0) AS available_tokens,
           coalesce(target_share, 0.0) AS target_share
    FROM inv FULL JOIN w ON inv.domain = w.domain
)
SELECT domain,
       round(available_tokens, 6) AS available_tokens,
       round(target_share, 6) AS target_share,
       round(target_share * 20000.0, 6) AS quota_tokens,
       round(CASE WHEN available_tokens > 0
                  THEN least(1.0, target_share * 20000.0 / available_tokens)
                  ELSE 0.0 END, 6) AS rate,
       round(CASE WHEN available_tokens > 0
                  THEN least(1.0, target_share * 20000.0 / available_tokens)
                  ELSE 0.0 END * available_tokens, 6) AS expected_tokens,
       target_share * 20000.0 > available_tokens AS capped
FROM grid
"""


SQL_MIXTURE = _mix_sql()


R6E_QUERIES.update(
    {
        "sample_matched_controls": (q_sample_matched_controls, SQL_MATCHED),
        "plan_domain_mixture": (q_plan_domain_mixture, SQL_MIXTURE),
    }
)


# --- incremental aggregate-state maintenance ------------------------------

_SPLIT_EPOCH = 1706000000  # 2024-01-23T08:53:20Z — inside the event range


def q_ts_incremental_state(spark, sf_dir):
    """Incremental rollup maintenance
    (operators/timeseries.py:merge_aggregate_state): the 6-hour
    partials table built from HISTORY (ts < split) absorbs a freshly
    aggregated BATCH (ts >= split) through the monoid merge — history
    is never rescanned. The oracle recomputes the same rollup from ALL
    raw events in one pass, so a hash match proves the merge algebra
    is exact (including the split-straddling buckets, which exist in
    both inputs and must combine)."""
    from stockpy_spark.operators.timeseries import (
        continuous_aggregate,
        merge_aggregate_state,
    )

    ev = _t(spark, sf_dir, "events")
    split = F.col("ts").cast("timestamp").cast("long") < _SPLIT_EPOCH
    hist = continuous_aggregate(
        ev.filter(split), "ts", 21600, ["event_type"], "value"
    )
    batch = continuous_aggregate(
        ev.filter(~split), "ts", 21600, ["event_type"], "value"
    )
    merged = merge_aggregate_state(
        hist, batch, ["bucket_start", "event_type"]
    )
    return merged.select(
        "bucket_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


SQL_INCR_STATE = """
SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


R6E_QUERIES.update(
    {
        "ts_incremental_state": (q_ts_incremental_state, SQL_INCR_STATE),
    }
)


# --- audio DSP screens ---------------------------------------------------

def q_mm_audio_dsp(spark, sf_dir):
    """Signal-level audio curation screens over real decoded WAVs
    (operators/multimodal.py:extract_audio_dsp): zero-crossing count,
    peak amplitude, and loudest 16-sample frame energy — numpy DSP in
    Arrow-batched mapInPandas, hash-gated because the synthetic sample
    pattern ((doc_id*7 + i*13) % 2048 - 1024) lets the oracle recompute
    every integer exactly."""
    from stockpy_spark.operators.multimodal import (
        attach_wav_payload,
        extract_audio_dsp,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_audio_dsp(attach_wav_payload(docs, "doc_id"))


SQL_AUDIO_DSP = """
WITH n AS (
    SELECT doc_id, doc_id % 32 + 16 AS ns FROM documents
), s AS (
    SELECT n.doc_id, n.ns, i.i,
           (n.doc_id * 7 + i.i * 13) % 2048 - 1024 AS v,
           i.i // 16 AS frame
    FROM n JOIN generate_series(0, 47) i(i) ON i.i < n.ns
), flags AS (
    SELECT doc_id, ns, i, v, frame,
           CASE WHEN i > 0 AND (v >= 0) <>
                (lag(v) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
                THEN 1 ELSE 0 END AS crossed
    FROM s
), per_doc AS (
    SELECT doc_id, max(ns) AS ns,
           CAST(sum(crossed) AS INT) AS zero_crossings,
           CAST(max(abs(v)) AS INT) AS peak_amp,
           CAST(count(DISTINCT frame) AS INT) AS n_frames
    FROM flags GROUP BY doc_id
), fr AS (
    SELECT doc_id, frame, sum(v * v) AS energy,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY sum(v * v) DESC, frame) AS rn
    FROM s GROUP BY doc_id, frame
)
SELECT p.doc_id,
       CAST(p.ns AS INT) AS n_samples,
       p.zero_crossings, p.peak_amp, p.n_frames,
       CAST(fr.energy AS BIGINT) AS max_frame_energy,
       CAST(fr.frame AS INT) AS loudest_frame
FROM per_doc p JOIN fr ON p.doc_id = fr.doc_id AND fr.rn = 1
"""


R6E_QUERIES.update(
    {
        "mm_audio_dsp": (q_mm_audio_dsp, SQL_AUDIO_DSP),
    }
)


# --- BPE merge training (rows-only: iterative greedy fold, not SQL) -------

def q_text_bpe_merges(spark, sf_dir):
    """Learn 12 BPE merges over the document corpus
    (operators/bpe.py:train_bpe_merges): per-round pair counting is one
    narrow zip_with fan-out + groupBy; the greedy non-overlapping merge
    applies as a builtin-expression fold; re-segmented corpus
    localCheckpoint-ed per round. DuckDB 1.0 cannot replay the greedy
    list fold (no seedable list_reduce), so this iterative family is
    rows-only at the driver and pytest-verified against a pure-Python
    reference trainer (test_bpe_matches_reference_trainer)."""
    from stockpy_spark.operators.bpe import train_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    return train_bpe_merges(docs, "text", "doc_id", n_merges=12)


R6E_QUERIES.update(
    {
        "text_bpe_merges": (q_text_bpe_merges, None),
    }
)


# --- PCA gate (rows-only family twin: eigen step not SQL-expressible) -----

def q_gate_pca_variance(spark, sf_dir):
    """Self-certifying distributed PCA (operators/pca.py): top-4
    components of the 64-d embeddings via per-batch X^T X moment
    partials (one numpy GEMM per Arrow batch, ~33 KB driver state) +
    driver eigh + distributed projection. The gate row per component
    asserts the projected sample variance equals the eigenvalue
    (rel 1e-6) and the basis is orthonormal — the identity that fails
    if ANY of the three phases is wrong. Oracle pins the expected gate
    rows (an eigendecomposition has no SQL replay)."""
    from stockpy_spark.operators.pca import pca_gate

    emb = _t(spark, sf_dir, "embeddings")
    return pca_gate(emb, "embedding", "vec_id", k=4)


SQL_GATE_PCA = """
SELECT CAST(i AS INT) AS component,
       true AS var_match_ok, true AS ortho_ok
FROM generate_series(1, 4) t(i)
"""


R6E_QUERIES.update(
    {
        "gate_pca_variance": (q_gate_pca_variance, SQL_GATE_PCA),
    }
)


# --- BPE encoding with a fixed merge table (FULL oracle) ------------------

# fixed English-bigram table: exercises chained merges ((t,h)->th then
# (th,e); (a,n)->an then (an,d)) and rank-order application
_BPE_TABLE = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
]


def q_text_bpe_vocab(spark, sf_dir):
    """Encode the corpus with a FIXED 6-merge table and count the
    resulting symbol vocabulary. Unlike training (rows-only), the
    ENCODER has a full oracle: with single-character placeholders, the
    greedy left-to-right non-overlapping fold over atomic symbols is
    exactly chained string replace() — so DuckDB replays the
    segmentation with 6 replaces and hash-checks every symbol count.
    Runs the Arrow kernel (operators/bpe.py:apply_bpe_merges_arrow),
    pytest-proven identical to the declarative fold
    (apply_bpe_merges) and measured 19x faster at sf0.1 (21.1 s ->
    1.1 s warmed) — the fold stays as the executable spec and the
    training inner loop."""
    from stockpy_spark.operators.bpe import apply_bpe_merges_arrow

    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe_merges_arrow(docs, "text", "doc_id", _BPE_TABLE)
    return enc.groupBy("sym").agg(F.count(F.lit(1)).alias("n"))


SQL_BPE_VOCAB = r"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents WHERE len(trim(text)) > 0
), enc AS (
    SELECT replace(replace(replace(replace(replace(replace(
               tok,
               'th', chr(1)),
               chr(1) || 'e', chr(2)),
               'in', chr(3)),
               'an', chr(4)),
               chr(4) || 'd', chr(5)),
               'er', chr(6)) AS e
    FROM toks
), syms AS (
    SELECT unnest([e[i] for i in range(1, len(e) + 1)]) AS ch
    FROM enc
)
SELECT CASE ch
         WHEN chr(1) THEN 'th'
         WHEN chr(2) THEN 'the'
         WHEN chr(3) THEN 'in'
         WHEN chr(4) THEN 'an'
         WHEN chr(5) THEN 'and'
         WHEN chr(6) THEN 'er'
         ELSE ch
       END AS sym,
       count(*) AS n
FROM syms
GROUP BY 1
"""


R6E_QUERIES.update(
    {
        "text_bpe_vocab": (q_text_bpe_vocab, SQL_BPE_VOCAB),
    }
)


# --- price/volume revenue decomposition -----------------------------------

def q_agg_price_volume(spark, sf_dir):
    """1996-vs-1997 revenue-change decomposition per return flag
    (operators/aggregate.py:price_volume_decomposition): exact
    volume-at-old-price / price-at-new-volume split, one conditional
    aggregate, self-reconciling (delta = volume + price)."""
    from stockpy_spark.operators.aggregate import price_volume_decomposition

    li = _t(spark, sf_dir, "lineitem")
    return price_volume_decomposition(
        li,
        dim_col="l_returnflag",
        period_col=F.year("l_shipdate"),
        period_a=1996,
        period_b=1997,
        qty_col="l_quantity",
        revenue_col="l_extendedprice",
    )


SQL_PRICE_VOLUME = """
WITH per AS (
    SELECT l_returnflag AS dim,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                    THEN l_quantity ELSE 0.0 END) AS q0,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1997
                    THEN l_quantity ELSE 0.0 END) AS q1,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                    THEN l_extendedprice ELSE 0.0 END) AS r0,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1997
                    THEN l_extendedprice ELSE 0.0 END) AS r1
    FROM lineitem
    WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
    GROUP BY l_returnflag
)
SELECT dim,
       round(q0, 2) AS qty_a, round(q1, 2) AS qty_b,
       round(r0, 2) AS rev_a, round(r1, 2) AS rev_b,
       round(r1 - r0, 2) AS delta,
       round(CASE WHEN q0 > 0 AND q1 > 0
                  THEN (q1 - q0) * (r0 / q0) ELSE r1 - r0 END, 2)
           AS volume_effect,
       round(CASE WHEN q0 > 0 AND q1 > 0
                  THEN q1 * (r1 / q1 - r0 / q0) ELSE 0.0 END, 2)
           AS price_effect
FROM per
"""


R6E_QUERIES.update(
    {
        "agg_price_volume": (q_agg_price_volume, SQL_PRICE_VOLUME),
    }
)
