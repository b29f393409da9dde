"""Round-6 fourth-wave families: exact prefix-filtered set-similarity
join (the PPJoin-style exact tier of the dedup surface), distribution
drift screens (PSI + distributed two-sample KS), one-pass association
statistics (pairwise Pearson matrix, chi-square / Cramér's V / mutual
information), and CUSUM change-point detection as an exact
cross-engine fold.

Every query has a full DuckDB value-hash oracle. The similarity join's
oracle is the NAIVE ALL-PAIRS exact Jaccard join — the strongest
possible check that prefix filtering loses nothing; the CUSUM oracle
replays the same Lindley-reflection closed form over the same ordered
running sums, so every per-row double is identical. The drift/stats panels
build every per-row float from bigint counts via single double ops, so
even float equality in the KS arg-max replays exactly cross-engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.drift import ks_2samp, population_stability_index
from stockpy_spark.operators.setsim import jaccard_similarity_join
from stockpy_spark.operators.stats import (
    categorical_association,
    correlation_matrix,
)
from stockpy_spark.operators.timeseries import cusum_changepoint
from stockpy_spark.sources.testdata import _t

R6D_QUERIES: dict = {}


# --- exact prefix-filtered set-similarity self-join ----------------------

def q_setsim_jaccard_join(spark, sf_dir):
    """Exact Jaccard >= 0.95 self-join over the documents' distinct
    lowercase-token sets (operators/setsim.py) — prefix filtering on
    the rarest-token global order generates candidates through an
    equi-join; verification is exact, so the result equals the naive
    all-pairs join the oracle runs. The synthetic corpus's tiny
    vocabulary inflates Jaccard (organic corpora sit far sparser), so
    the threshold is set at the true-duplicate band."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_similarity_join(docs, "text", "doc_id", threshold=0.95)


SQL_SETSIM = r"""
WITH s AS (
    SELECT doc_id,
           list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
    FROM documents
    WHERE len(trim(text)) > 0
), p AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.t, b.t)) AS n_inter,
           len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS n_union
    FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_union AS BIGINT) AS n_union,
       round(n_inter / n_union, 6) AS jaccard
FROM p
WHERE n_inter / n_union >= 0.95
"""


# --- PSI drift screen ----------------------------------------------------

def q_drift_psi_value(spark, sf_dir):
    """PSI of purchase-event values against click-event values
    (operators/drift.py:population_stability_index): 10 equal-width
    bins from the reference (click) min/max, current-batch mass outside
    the range clamped into the edge bins, zero bins floored at 1e-6."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    return population_stability_index(ref, cur, "value", n_bins=10)


SQL_PSI = """
WITH census AS (
    SELECT min(value) AS mn, max(value) AS mx
    FROM events WHERE event_type = 'click' AND value IS NOT NULL
), binned AS (
    SELECT least(9, greatest(0,
               CASE WHEN mx = mn THEN (CASE WHEN value <= mn THEN 0 ELSE 9 END)
                    ELSE CAST(floor((value - mn) / ((mx - mn) / 10.0)) AS INT)
               END)) AS bin,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_ref
    FROM events, census
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), grid AS (
    SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
           CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
    FROM binned GROUP BY bin
), frac AS (
    SELECT bin, n_ref, n_cur,
           greatest(n_ref / sum(n_ref) OVER (), 1e-6) AS p,
           greatest(n_cur / sum(n_cur) OVER (), 1e-6) AS q
    FROM grid
)
SELECT bin, n_ref, n_cur,
       round(p, 6) AS p_ref, round(q, 6) AS p_cur,
       round((p - q) * ln(p / q), 6) AS psi_term,
       round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi
FROM frac
"""


# --- two-sample KS -------------------------------------------------------

def q_drift_ks_value(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov D between click and
    purchase value distributions (operators/drift.py:ks_2samp) — the
    global ECDF running counts ride the bucketed prefix-sum (skyline
    pattern), not a one-task global sort; the oracle computes the same
    sup-distance with a plain ordered window."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    return ks_2samp(ref, cur, "value")


SQL_KS = """
WITH pooled AS (
    SELECT value AS v,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_ref
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), per_v AS (
    SELECT v, sum(is_ref) AS c_ref, sum(1 - is_ref) AS c_cur
    FROM pooled GROUP BY v
), tot AS (
    SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
           CAST(sum(c_cur) AS BIGINT) AS n_cur FROM per_v
), e AS (
    SELECT v,
           sum(c_ref) OVER (ORDER BY v) AS cum_ref,
           sum(c_cur) OVER (ORDER BY v) AS cum_cur
    FROM per_v
), d AS (
    SELECT v, abs(cum_ref / n_ref - cum_cur / n_cur) AS d
    FROM e, tot
)
SELECT tot.n_ref, tot.n_cur,
       round(min(dm.dmax), 6) AS d_stat,
       min(d.v) AS at_value
FROM d, tot, (SELECT max(d) AS dmax FROM d) dm
WHERE d.d = dm.dmax
GROUP BY tot.n_ref, tot.n_cur
"""


# --- pairwise Pearson correlation matrix ---------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_stats_corr_matrix(spark, sf_dir):
    """Long-form Pearson matrix over the four lineitem numeric columns
    (operators/stats.py:correlation_matrix): all 6 pairs from ONE
    map-side-combined aggregate scan — never one job per pair."""
    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(li, _CORR_COLS)


def _corr_sql() -> str:
    sums = ["count(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"sum({c}) AS s_{c}")
        sums.append(f"sum({c} * {c}) AS ss_{c}")
    pairs = []
    from itertools import combinations

    for cx, cy in combinations(_CORR_COLS, 2):
        sums.append(f"sum({cx} * {cy}) AS sp_{cx}_{cy}")
        pairs.append(
            f"SELECT '{cx}' AS col_x, '{cy}' AS col_y, n,\n"
            f"  round((n * sp_{cx}_{cy} - s_{cx} * s_{cy})\n"
            f"    / sqrt((n * ss_{cx} - s_{cx} * s_{cx})\n"
            f"           * (n * ss_{cy} - s_{cy} * s_{cy})), 6) AS r\n"
            f"FROM s"
        )
    where = " AND ".join(f"{c} IS NOT NULL" for c in _CORR_COLS)
    return (
        "WITH s AS (\n  SELECT " + ",\n         ".join(sums)
        + f"\n  FROM lineitem WHERE {where}\n)\n"
        + "\nUNION ALL\n".join(pairs)
    )


SQL_CORR = _corr_sql()


# --- categorical association panel ---------------------------------------

def q_stats_cat_association(spark, sf_dir):
    """Chi-square / Cramér's V / mutual-information panel for
    o_orderstatus x o_orderpriority
    (operators/stats.py:categorical_association): one contingency
    groupBy, everything else windows over the 15-cell frame."""
    od = _t(spark, sf_dir, "orders")
    return categorical_association(od, "o_orderstatus", "o_orderpriority")


SQL_CAT_ASSOC = """
WITH observed AS (
    SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS n_xy
    FROM orders
    WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    GROUP BY 1, 2
), cells AS (
    -- full r x c grid: zero cells carry their expected count into chi2
    SELECT g.x, g.y, CAST(coalesce(o.n_xy, 0) AS BIGINT) AS n_xy
    FROM (SELECT DISTINCT a.x, b.y
          FROM (SELECT DISTINCT x FROM observed) a,
               (SELECT DISTINCT y FROM observed) b) g
    LEFT JOIN observed o ON g.x = o.x AND g.y = o.y
), m AS (
    SELECT x, y, n_xy,
           CAST(sum(n_xy) OVER () AS DOUBLE) AS n,
           CAST(sum(n_xy) OVER (PARTITION BY x) AS DOUBLE) AS row_tot,
           CAST(sum(n_xy) OVER (PARTITION BY y) AS DOUBLE) AS col_tot,
           count(DISTINCT x) OVER () AS r_card,
           count(DISTINCT y) OVER () AS c_card
    FROM cells
), t AS (
    SELECT x, y, n_xy, n, r_card, c_card,
           row_tot * col_tot / n AS exp_n,
           pow(n_xy - row_tot * col_tot / n, 2)
               / (row_tot * col_tot / n) AS chi2_term,
           CASE WHEN n_xy = 0 THEN 0.0
                ELSE (n_xy / n) * ln(n * n_xy / (row_tot * col_tot))
           END AS mi_term
    FROM m
)
SELECT x, y, n_xy,
       round(exp_n, 6) AS exp_n,
       round(chi2_term, 6) AS chi2_term,
       round(mi_term, 6) AS mi_term,
       round(sum(chi2_term) OVER (), 6) AS chi2,
       round(sqrt(sum(chi2_term) OVER ()
                  / (n * (least(r_card, c_card) - 1))), 6) AS cramers_v,
       round(sum(mi_term) OVER (), 6) AS mutual_info
FROM t
"""


# --- CUSUM change detection ----------------------------------------------

def q_ts_cusum_alarm(spark, sf_dir):
    """Per-user upward CUSUM over event values
    (operators/timeseries.py:cusum_changepoint): s = max(0, s + v - 55)
    alarming at 200 — the Page (1954) recursive control chart via its
    Lindley closed form s_i = C_i - min(0, running-min C_j): pure
    windows over one (key, time) sort, bit-exact cross-engine because
    both engines accumulate the same running sum in the same order."""
    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        target=50.0,
        slack=5.0,
        threshold=200.0,
        tiebreak_col="event_id",
    )


# The oracle replays the same closed form the operator uses (Lindley
# reflection: s_i = C_i - min(0, running-min C_j)); both engines build
# the running sum left-to-right over the identical (ts, event_id)
# order, so every s_i is the same double and the threshold
# comparisons replay exactly.
SQL_CUSUM = """
WITH base AS (
    SELECT user_id AS key, ts, event_id, value - 55.0 AS c
    FROM events WHERE value IS NOT NULL
), cum AS (
    SELECT key,
           row_number() OVER w AS i,
           sum(c) OVER w AS C
    FROM base
    WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
    SELECT key, i,
           C - least(0.0, min(C) OVER w) AS s
    FROM cum
    WINDOW w AS (PARTITION BY key ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), flagged AS (
    SELECT key, i, s,
           coalesce(lag(s) OVER (PARTITION BY key ORDER BY i), 0.0) < 200.0
               AND s >= 200.0 AS crossed
    FROM s
)
SELECT key, count(*) AS n,
       round(arg_max(s, i), 6) AS cusum_final,
       round(max(s), 6) AS cusum_max,
       CAST(sum(CASE WHEN crossed THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       min(CASE WHEN crossed THEN i END) AS first_alarm_idx
FROM flagged
GROUP BY key
"""

R6D_QUERIES.update(
    {
        "setsim_jaccard_join": (q_setsim_jaccard_join, SQL_SETSIM),
        "drift_psi_value": (q_drift_psi_value, SQL_PSI),
        "drift_ks_value": (q_drift_ks_value, SQL_KS),
        "stats_corr_matrix": (q_stats_corr_matrix, SQL_CORR),
        "stats_cat_association": (q_stats_cat_association, SQL_CAT_ASSOC),
        "ts_cusum_alarm": (q_ts_cusum_alarm, SQL_CUSUM),
    }
)
