"""Round-6 third-wave families: corpus-state text cleaning (C4-style
frequent-line removal), domain-temperature resampling, blocked
Levenshtein entity resolution, linear-interpolation gap fill, rolling
z-score anomaly flags, and a declarative one-pass data-quality
constraint suite.

Every query here has a full DuckDB value-hash oracle. The corpus ops
extend the LLM-pipeline surface (the reference's text path is per-row
pandas, scripts/transform_news_job.py — it has no cross-document
state); the DQ suite generalizes the reference's empty-frame pipeline
guards (scripts/transform_stocks_job.py:63-71) into a constraint
vocabulary evaluated in one scan.

The synthetic documents have no newlines, so the line-dedup query
derives deterministic "lines" by chunking the token stream in threes
(both engines build identical lines by construction); the OPERATOR is
separator-generic — real corpora pass sep='\\n'.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.features import quantile_bucketize
from stockpy_spark.operators.graph import bfs_hops
from stockpy_spark.operators.joins import blocked_fuzzy_join
from stockpy_spark.operators.quality import (
    accepted_values,
    min_rows,
    null_fraction,
    orphan_count,
    run_checks,
    unique_key,
    value_range,
)
from stockpy_spark.operators.sampling import temperature_resample
from stockpy_spark.operators.skyline import pareto_frontier_2d
from stockpy_spark.operators.textcorpus import remove_frequent_lines
from stockpy_spark.operators.textstats import build_inverted_index
from stockpy_spark.operators.timeseries import gap_fill_linear, rolling_zscore
from stockpy_spark.registry_ext import _TOKENS_LOWER_SQL
from stockpy_spark.sources.testdata import _t

R6C_QUERIES: dict = {}


# --- C4-style frequent-line removal --------------------------------------

def q_corpus_line_dedup(spark, sf_dir):
    """Corpus boilerplate removal
    (operators/textcorpus.py:remove_frequent_lines): delete every
    "line" occurring in more than 2 distinct documents, rebuild each
    document's surviving lines in order. Lines here are 3-token chunks
    (the synthetic docs are newline-free); the shape — explode,
    corpus-wide doc-frequency groupBy, semi-join back on the already
    line-partitioned exchange, in-order reassembly — is the production
    one."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nl = F.ceil(F.size(toks) / F.lit(3.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nl - F.lit(1)),
        lambda i: F.array_join(F.slice(toks, i * F.lit(3) + F.lit(1), F.lit(3)), " "),
    )
    lined = docs.select(
        "doc_id", F.array_join(chunks, "\n").alias("text")
    )
    return remove_frequent_lines(
        lined, "doc_id", "text", sep="\n", max_doc_freq=2
    )


SQL_LINE_DEDUP = """
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
           generate_subscripts(
               regexp_split_to_array(trim(text), '\\s+'), 1) AS i
    FROM documents
), lines AS (
    SELECT doc_id, CAST((i - 1) // 3 AS BIGINT) AS pos,
           string_agg(tok, ' ' ORDER BY i) AS line
    FROM toks GROUP BY doc_id, (i - 1) // 3
), keep AS (
    SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) <= 2
)
SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS text
FROM lines l
WHERE l.line IN (SELECT line FROM keep)
GROUP BY l.doc_id
"""


# --- domain-temperature resampling ---------------------------------------

def q_sample_temperature(spark, sf_dir):
    """Temperature-flattened language mix
    (operators/sampling.py:temperature_resample, alpha=0.5): the 'en'
    head is downsampled toward sqrt-proportional counts; keep/drop is
    the md5 pure function of doc_id, so the realized corpus is
    engine- and rerun-identical."""
    docs = _t(spark, sf_dir, "documents")
    return temperature_resample(docs, "lang", "doc_id", alpha=0.5).select(
        "doc_id", "lang", "source"
    )


SQL_TEMPERATURE = """
WITH census AS (SELECT lang, count(*) AS cg FROM documents GROUP BY lang),
rates AS (
    SELECT lang,
           round(pow(cg / CAST((SELECT min(cg) FROM census) AS DOUBLE),
                     -0.5), 9) AS rate
    FROM census
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN rates r USING (lang)
WHERE (CAST(concat('0x',
           substr(md5('temper|' || CAST(doc_id AS VARCHAR)), 1, 15))
       AS BIGINT) % 10000) / 10000.0 < r.rate
"""


# --- blocked Levenshtein entity resolution -------------------------------

def q_er_fuzzy_match(spark, sf_dir):
    """Entity resolution (operators/joins.py:blocked_fuzzy_join) with
    the production staging: exact-collapse FIRST, fuzzy on distinct
    values only. "Dirty" entity strings (name+brand+type with the last
    character dropped, odd partkeys) are matched back against the
    catalog within 2 edits.

    Both sides are reduced to distinct strings (min partkey as the
    representative) BEFORE the fuzzy join, so the quadratic-in-block
    stage runs on the name VOCABULARY — bounded — while corpus growth
    only grows the two exact groupBys. Skipping that collapse is the
    classic blocked-ER scale killer: with this synthetic catalog's 1.8k
    distinct names the raw-rows variant measured 42 s at sf0.1 and
    grows ~quadratically with SF; the collapsed variant is flat.
    Candidates come from the (18-char-prefix, length-band) equi-key —
    a shuffle hash join plus in-block levenshtein, never a nested-loop
    cross. Blocked semantics exactly: prefix-equal AND distance<=2
    (the length band is implied by the bound: cost, not recall)."""
    part = _t(spark, sf_dir, "part")
    fname = F.concat_ws(" ", "p_name", "p_brand", "p_type")
    catalog = (
        part.select(F.col("p_partkey"), fname.alias("cat_name"))
        .groupBy("cat_name")
        .agg(F.min("p_partkey").alias("cat_id"))
    )
    dirty = (
        part.filter(F.col("p_partkey") % 2 == 1)
        .select(
            F.col("p_partkey"),
            F.expr(
                "substring(concat_ws(' ', p_name, p_brand, p_type), 1, "
                "length(concat_ws(' ', p_name, p_brand, p_type)) - 1)"
            ).alias("dirty_name"),
        )
        .groupBy("dirty_name")
        .agg(F.min("p_partkey").alias("dirty_id"))
    )
    matched = blocked_fuzzy_join(
        dirty, catalog, "dirty_name", "cat_name", max_dist=2, prefix_len=18
    )
    return matched.select(
        "dirty_id",
        "dirty_name",
        "cat_id",
        "cat_name",
        F.levenshtein("dirty_name", "cat_name").cast("int").alias("dist"),
    )


SQL_ER_FUZZY = """
WITH named AS (
    SELECT p_partkey, p_name || ' ' || p_brand || ' ' || p_type AS nm
    FROM part
), catalog AS (
    SELECT nm AS cat_name, min(p_partkey) AS cat_id FROM named GROUP BY nm
), dirty AS (
    SELECT substring(nm, 1, length(nm) - 1) AS dirty_name,
           min(p_partkey) AS dirty_id
    FROM named WHERE p_partkey % 2 = 1
    GROUP BY substring(nm, 1, length(nm) - 1)
)
SELECT d.dirty_id, d.dirty_name, c.cat_id, c.cat_name,
       CAST(levenshtein(d.dirty_name, c.cat_name) AS INT) AS dist
FROM dirty d
JOIN catalog c
  ON substring(d.dirty_name, 1, 18) = substring(c.cat_name, 1, 18)
WHERE levenshtein(d.dirty_name, c.cat_name) <= 2
"""


# --- linear-interpolation gap fill ---------------------------------------

def q_ts_gap_fill_linear(spark, sf_dir):
    """Dense per-user daily grid with linear interpolation between the
    nearest observed days (operators/timeseries.py:gap_fill_linear) —
    the interpolate() companion to ts_gap_fill_locf; NULL outside the
    first/last observation (no extrapolation)."""
    ev = _t(spark, sf_dir, "events")
    return gap_fill_linear(ev, "user_id", "ts", "value", "event_id")


SQL_TS_LINEAR = """
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
), j AS (
    SELECT g.user_id, g.bucket_start, o.value
    FROM grid g LEFT JOIN obs o USING (user_id, bucket_start)
), wv AS (
    SELECT user_id, bucket_start, value,
        last_value(value IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN value IS NOT NULL THEN bucket_start END
                   IGNORE NULLS) OVER wb AS pb,
        first_value(value IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN value IS NOT NULL THEN bucket_start END
                    IGNORE NULLS) OVER wf AS nb
    FROM j
    WINDOW wb AS (PARTITION BY user_id ORDER BY bucket_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY user_id ORDER BY bucket_start
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket_start,
       round(CASE WHEN value IS NOT NULL THEN value
             ELSE pv + (nv - pv) *
                  (CAST(bucket_start - pb AS DOUBLE) / (nb - pb))
             END, 6) AS filled
FROM wv
"""


# --- rolling z-score anomaly flags ---------------------------------------

def q_ts_anomaly_zscore(spark, sf_dir):
    """Per-user rolling anomaly score over the 10 PRECEDING
    observations (operators/timeseries.py:rolling_zscore) — variance
    from decomposable n/sum/sumsq partials so both engines compute the
    identical algebra; z rounded to 6 before the |z|>2 flag."""
    ev = _t(spark, sf_dir, "events")
    return rolling_zscore(
        ev, "user_id", "ts", "value", "event_id", lookback=10, threshold=2.0
    )


SQL_TS_ZSCORE = """
WITH w AS (
    SELECT user_id, ts, event_id, value,
           count(value) OVER fr AS n,
           sum(value) OVER fr AS s,
           sum(value * value) OVER fr AS ss
    FROM events
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, ts, event_id, value,
       CASE WHEN n >= 2 AND (ss - n * (s / n) * (s / n)) / (n - 1) > 0
            THEN round((value - s / n)
                       / sqrt((ss - n * (s / n) * (s / n)) / (n - 1)), 6)
       END AS z,
       coalesce(abs(CASE WHEN n >= 2
                          AND (ss - n * (s / n) * (s / n)) / (n - 1) > 0
                         THEN round((value - s / n)
                              / sqrt((ss - n * (s / n) * (s / n)) / (n - 1)),
                              6)
                    END) > 2.0, false) AS is_anomaly
FROM w
"""


# --- one-pass data-quality constraint suite ------------------------------

def q_dq_constraint_suite(spark, sf_dir):
    """Declarative DQ gate (operators/quality.py): five constraints
    over orders fused into ONE aggregate scan (null fraction, key
    uniqueness, accepted status values, price range, minimum rows),
    plus a referential orphan check against customer as an anti-join —
    the long (constraint, metric, passed) frame a pipeline guard
    consumes."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    checks = [
        min_rows(1),
        unique_key("o_orderkey"),
        null_fraction("o_custkey", 0.0),
        value_range("o_totalprice", 0.0, 1000000.0),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
    ]
    base = run_checks(orders, checks)
    ref = orphan_count(
        orders, cust, "o_custkey", "c_custkey",
        "ref(orders.o_custkey->customer)",
    )
    return base.unionByName(ref)


SQL_DQ_SUITE = """
SELECT 'rows>=1' AS "constraint", CAST(count(*) AS DOUBLE) AS metric,
       count(*) >= 1 AS passed FROM orders
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE),
       count(o_orderkey) - count(DISTINCT o_orderkey) = 0 FROM orders
UNION ALL
SELECT 'null_fraction(o_custkey)<=0.0',
       avg(CAST(o_custkey IS NULL AS DOUBLE)),
       avg(CAST(o_custkey IS NULL AS DOUBLE)) <= 0.0 FROM orders
UNION ALL
SELECT 'range(o_totalprice)in[0.0,1000000.0]',
       sum(CAST(NOT (o_totalprice BETWEEN 0.0 AND 1000000.0) AS DOUBLE)),
       sum(CAST(NOT (o_totalprice BETWEEN 0.0 AND 1000000.0) AS DOUBLE)) = 0
FROM orders
UNION ALL
SELECT 'accepted(o_orderstatus)',
       sum(CAST(o_orderstatus NOT IN ('O', 'F', 'P') AS DOUBLE)),
       sum(CAST(o_orderstatus NOT IN ('O', 'F', 'P') AS DOUBLE)) = 0
FROM orders
UNION ALL
SELECT 'ref(orders.o_custkey->customer)',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS DOUBLE),
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
"""


R6C_QUERIES.update(
    {
        "corpus_line_dedup": (q_corpus_line_dedup, SQL_LINE_DEDUP),
        "sample_temperature": (q_sample_temperature, SQL_TEMPERATURE),
        "er_fuzzy_match": (q_er_fuzzy_match, SQL_ER_FUZZY),
        "ts_gap_fill_linear": (q_ts_gap_fill_linear, SQL_TS_LINEAR),
        "ts_anomaly_zscore": (q_ts_anomaly_zscore, SQL_TS_ZSCORE),
        "dq_constraint_suite": (q_dq_constraint_suite, SQL_DQ_SUITE),
    }
)


# --- Pareto frontier (skyline) -------------------------------------------

def q_pareto_frontier(spark, sf_dir):
    """2-D skyline (operators/skyline.py:pareto_frontier_2d): order
    points maximizing o_totalprice while minimizing o_orderdate —
    "the biggest order seen by each date, frontier only". Distributed
    prefix-min (bucketed local scans + a B-row broadcast offset), no
    global sort; the oracle is the textbook one-partition window
    formulation, so a hash match proves the decomposition exact."""
    orders = _t(spark, sf_dir, "orders")
    return pareto_frontier_2d(orders, "o_totalprice", "o_orderdate")


SQL_PARETO = """
WITH pts AS (
    SELECT o_totalprice, min(o_orderdate) AS o_orderdate
    FROM orders GROUP BY o_totalprice
), s AS (
    SELECT o_totalprice, o_orderdate,
           min(o_orderdate) OVER (
               ORDER BY o_totalprice DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM pts
)
SELECT o_totalprice, o_orderdate FROM s
WHERE pm IS NULL OR o_orderdate < pm
"""


# --- inverted index build ------------------------------------------------

def q_text_inverted_index(spark, sf_dir):
    """Posting lists with a pre-materialization cap
    (operators/textstats.py:build_inverted_index): df is the true
    document frequency, postings the first 20 doc ids per term — the
    cap applies in a constant-state row_number stream BEFORE any array
    exists, so Zipf-head terms never build corpus-sized state.

    Postings surface as a comma-joined STRING: the driver's pandas
    canonicalizer cannot sort list cells (the r06 stream_dedup_keys
    red row), so array-typed output columns are banned at the query
    registry surface — tools/check.py's schema lint enforces it."""
    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs, "text", "doc_id", max_postings=20)
    return idx.select(
        "term",
        "df",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


SQL_INVERTED = f"""
WITH toks AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS term
    FROM documents
), ranked AS (
    SELECT term, doc,
           row_number() OVER (PARTITION BY term ORDER BY doc) AS rn
    FROM toks
)
SELECT term, count(*) AS df,
       array_to_string(list(CAST(doc AS VARCHAR) ORDER BY doc)
                       FILTER (WHERE rn <= 20), ',') AS postings
FROM ranked GROUP BY term
"""


# --- multi-source BFS hop counts -----------------------------------------

def q_graph_bfs_hops(spark, sf_dir):
    """2-hop neighborhood of the p_size=50 seed parts over the
    co-purchase graph (operators/graph.py:bfs_hops — min-plus frontier
    propagation, checkpointed rounds, frontier-sized joins). Fourth
    iterative distributed algorithm under the exact recursive-CTE
    oracle (after CC, PageRank, k-means)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # NO .distinct(): min-plus propagation is duplicate-edge-tolerant
    # (each round's groupBy-min absorbs multiplicity map-side), and the
    # corpus-sized distinct hash aggregate was THE memory wall at the
    # synthetic sf10 (AGGREGATE_OUT_OF_MEMORY in the 200M-pair dedup —
    # BASELINE.md §4). Orient a<b so the operator's symmetric union
    # doesn't double already-bidirectional pairs.
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("v"))
    )
    out = bfs_hops(edges, seeds, max_hops=2)
    return out.select(F.col("v").alias("part"), F.col("hop").cast("int").alias("hop"))


SQL_BFS = """
WITH RECURSIVE e AS (
    SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
), seeds AS (
    SELECT DISTINCT p_partkey AS v FROM part WHERE p_size = 50
), walk(v, hop) AS (
    SELECT v, 0 FROM seeds
    UNION
    SELECT e.d, walk.hop + 1
    FROM walk JOIN e ON e.s = walk.v
    WHERE walk.hop < 2
)
SELECT v AS part, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY v
"""


# --- quantile-boundary feature binning -----------------------------------

def q_feat_quantile_bins(spark, sf_dir):
    """Quartile binning by the column's own EXACT percentile boundaries
    (operators/features.py:quantile_bucketize — one tiny aggregate,
    broadcast back, narrow expression bin), summarized per event type."""
    ev = _t(spark, sf_dir, "events")
    binned = quantile_bucketize(ev, "value")
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_QBINS = """
WITH b AS (
    SELECT list_transform(quantile_cont(value, [0.25, 0.5, 0.75]),
                          x -> round(x, 6)) AS bs
    FROM events
)
SELECT event_type,
       -- NULL values must bin to NULL like the Spark side; a bare
       -- list_filter length would score them as bin 0
       CASE WHEN value IS NULL THEN NULL
            ELSE CAST(len(list_filter(b.bs, x -> value >= x)) AS INT)
       END AS bin,
       count(*) AS n
FROM events, b GROUP BY 1, 2
"""


R6C_QUERIES.update(
    {
        "pareto_frontier": (q_pareto_frontier, SQL_PARETO),
        "text_inverted_index": (q_text_inverted_index, SQL_INVERTED),
        "graph_bfs_hops": (q_graph_bfs_hops, SQL_BFS),
        "feat_quantile_bins": (q_feat_quantile_bins, SQL_QBINS),
    }
)


# --- shingle containment (asymmetric near-dup) ---------------------------

def q_dedup_containment(spark, sf_dir):
    """Asymmetric substring-level duplication
    (operators/dedup.py:shingle_containment_pairs): ordered pairs where
    >=50% of the source's distinct 3-word shingles appear in the
    destination — the quote/aggregator case Jaccard under-scores.
    Verify-tier shape on the full corpus (guarded); the scale path
    feeds LSH candidates."""
    from stockpy_spark.operators.dedup import shingle_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return shingle_containment_pairs(docs, "text", "doc_id", threshold=0.5)


SQL_CONTAINMENT = """
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id AS doc,
           unnest([array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t) - 1)]) AS s
    FROM toks
), sz AS (
    SELECT doc, count(*) AS sz FROM sh GROUP BY doc
), inter AS (
    SELECT a.doc AS src, b.doc AS dst, count(*) AS i
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc <> b.doc
    GROUP BY 1, 2
)
SELECT inter.src, inter.dst, round(i * 1.0 / sz, 6) AS containment
FROM inter JOIN sz ON inter.src = sz.doc
WHERE round(i * 1.0 / sz, 6) >= 0.5
"""


# --- Benford first-digit forensic profile --------------------------------

def q_dq_benford_prices(spark, sf_dir):
    """Benford first-digit screen over lineitem prices
    (operators/quality.py:benford_first_digit) — digit extracted via
    the engine-exact integer-cents string route, expected counts and
    the chi-square statistic from one aggregate + a 9-row window."""
    from stockpy_spark.operators.quality import benford_first_digit

    li = _t(spark, sf_dir, "lineitem")
    return benford_first_digit(li, "l_extendedprice")


SQL_BENFORD = """
WITH d AS (
    SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
    FROM lineitem WHERE l_extendedprice > 0
), base AS (
    SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
           count(*) AS n
    FROM d WHERE c > 0 GROUP BY 1
), t AS (SELECT sum(n) AS total FROM base)
SELECT digit, n,
       round(total * log10(1.0 + 1.0 / digit), 6) AS exp_n,
       round(sum(pow(n - total * log10(1.0 + 1.0 / digit), 2)
                 / (total * log10(1.0 + 1.0 / digit))) OVER (), 6) AS chi2
FROM base, t
"""


R6C_QUERIES.update(
    {
        "dedup_containment": (q_dedup_containment, SQL_CONTAINMENT),
        "dq_benford_prices": (q_dq_benford_prices, SQL_BENFORD),
    }
)
