"""Round-6 second-wave families: the last two TPC-H shapes (Q2's
correlated argmin-per-group, Q11's HAVING-against-scalar-subquery),
BM25 ranked retrieval, deterministic k-means semantic clustering under
the full value-hash oracle, and robust (median/MAD) numeric cleaning.

Q2/Q16-style queries use lineitem as the part-supplier link (the
testdata ships no partsupp table); the shapes — argmin join-back and
scalar-subquery HAVING — are the ones the reference's SQL surface
exercises. The k-means and BM25 entries extend the LLM-pipeline
surface: semantic near-dup clustering over embeddings and quality
retrieval over documents, both exactly replayable by the DuckDB oracle
(every cross-engine-visible float is rounded at the same algorithmic
point; decimal sums where order-independence matters).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockpy_spark.operators.filters import robust_clip_outliers
from stockpy_spark.operators.similarity import kmeans_assign
from stockpy_spark.operators.textstats import bm25_topk
from stockpy_spark.registry_ext import _TOKENS_LOWER_SQL
from stockpy_spark.sources.testdata import _t


# --- TPC-H Q2 shape: cheapest regional supplier per part -----------------

def q_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape (argmin-per-group + join-back): for every part, the
    cheapest EUROPE supplier by observed unit price. Dimensions
    (region->nation->supplier, part) broadcast; the only shuffle is the
    (partkey, suppkey) unit-cost aggregate; the argmin is a window over
    that already-reduced frame, ties broken by suppkey."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part")

    eur = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("__cost")
    )
    offers = costs.join(
        F.broadcast(eur), costs["l_suppkey"] == eur["s_suppkey"]
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("__cost").asc(), F.col("l_suppkey").asc()
    )
    best = offers.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return (
        best.join(F.broadcast(part), best["l_partkey"] == part["p_partkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "p_type",
            # NOT rounded: the quotient price/qty systematically lands on
            # exact decimal halves (integer quantities), where Spark's
            # BigDecimal HALF_UP and DuckDB's fp-multiply round() disagree.
            # No reordering happens here (min over the same doubles), so
            # the raw double is bit-identical across engines.
            F.col("__cost").alias("min_cost"),
        )
    )


SQL_Q2 = """
WITH eur AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
), costs AS (
    SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
    SELECT c.l_partkey, c.cost, e.s_name, e.s_acctbal, e.n_name,
           row_number() OVER (PARTITION BY c.l_partkey
                              ORDER BY c.cost, c.l_suppkey) AS rn
    FROM costs c JOIN eur e ON c.l_suppkey = e.s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_type,
       cost AS min_cost
FROM best JOIN part ON l_partkey = p_partkey
WHERE rn = 1
"""


# --- TPC-H Q11 shape: value share above a scalar-subquery threshold ------

def q_q11_important_parts(spark, sf_dir, nationkey: int = 7):
    """Q11 shape (HAVING vs scalar subquery): parts whose revenue
    through nation-7 suppliers exceeds 0.1% of that nation's total.
    Order-independent exact decimal sums; the grand total is a 1-row
    broadcast; the threshold comparison happens on the bit-identical
    double cast of the exact decimals, so both engines agree exactly."""
    li = _t(spark, sf_dir, "lineitem")
    sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == nationkey)
        .select("s_suppkey")
    )
    joined = li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
    grouped = joined.groupBy("l_partkey").agg(
        F.sum(
            F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")
        ).alias("__val")
    )
    total = grouped.agg(
        (F.sum("__val").cast("double") * F.lit(0.001)).alias("__thr")
    )
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("__val").cast("double") > F.col("__thr"))
        .select(
            "l_partkey",
            F.expr("CAST(round(__val, 2) AS DOUBLE)").alias("part_value"),
        )
    )


SQL_Q11 = """
WITH nsup AS (SELECT s_suppkey FROM supplier WHERE s_nationkey = 7),
vals AS (
    SELECT l_partkey,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS val
    FROM lineitem JOIN nsup ON l_suppkey = s_suppkey
    GROUP BY l_partkey
), thr AS (
    SELECT CAST(sum(val) AS DOUBLE) * CAST(0.001 AS DOUBLE) AS t FROM vals
)
SELECT l_partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
FROM vals, thr
WHERE CAST(val AS DOUBLE) > t
"""


# --- BM25 ranked retrieval ----------------------------------------------

_BM25_TERMS = ["spark", "merge", "vector"]


def q_text_bm25_topk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", _BM25_TERMS, k=20)


# Mirrors bm25_topk exactly: same idf smoothing, same evaluation order,
# fractional literals CAST to DOUBLE (bare decimal literals are DECIMAL
# in DuckDB, which would change the arithmetic), same 6-dp rounding of
# per-term contributions and the summed score.
SQL_BM25 = f"""
WITH toks AS (
    SELECT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS term FROM documents
), tf AS (
    SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term
), dl AS (
    SELECT doc, count(*) AS dl FROM toks GROUP BY doc
), stats AS (
    SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), qtf AS (
    SELECT * FROM tf WHERE term IN ('spark', 'merge', 'vector')
), dfreq AS (
    SELECT term, count(*) AS df FROM qtf GROUP BY term
), contrib AS (
    SELECT q.doc,
           round(ln((s.n - d.df + CAST(0.5 AS DOUBLE))
                    / (d.df + CAST(0.5 AS DOUBLE)) + 1)
                 * (q.tf * CAST(2.2 AS DOUBLE))
                 / (q.tf + CAST(1.2 AS DOUBLE)
                    * (CAST(0.25 AS DOUBLE)
                       + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)), 6) AS c
    FROM qtf q
    JOIN dfreq d USING (term)
    JOIN dl l ON q.doc = l.doc
    CROSS JOIN stats s
), scored AS (
    SELECT doc, count(*) AS n_terms, round(sum(c), 6) AS score
    FROM contrib GROUP BY doc
)
SELECT doc, n_terms, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc) AS INTEGER) AS rank
FROM scored ORDER BY score DESC, doc LIMIT 20
"""


# --- deterministic k-means over embeddings ------------------------------

def q_emb_kmeans_assign(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "embedding", "vec_id", k=8)


# Replays kmeans_assign move for move: lowest-8-id seeds, one Lloyd
# refinement with the cosine rounded to 6 dp before the argmax (ties ->
# lowest cid), centroid means rounded to 6 dp, final assignment to the
# refined codebook. DuckDB lists are 1-indexed; position only orders
# the rebuilt centroid array, so the offset is immaterial.
_SQL_KMEANS_CTES = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), seeds AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
           ev AS cv
    FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), a1 AS (
    SELECT vec_id, cid, ev,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(ev, cv), 6) DESC, cid
           ) AS rn
    FROM v CROSS JOIN seeds
), m1 AS (
    SELECT a.cid, p.pos, round(avg(a.ev[p.pos]), 6) AS m
    FROM (SELECT cid, ev FROM a1 WHERE rn = 1) a
    CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS pos) p
    GROUP BY a.cid, p.pos
), c1 AS (
    SELECT cid, list(m ORDER BY pos) AS cv FROM m1 GROUP BY cid
), fin AS (
    SELECT vec_id, cid,
           round(list_cosine_similarity(ev, cv), 6) AS sim,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(ev, cv), 6) DESC, cid
           ) AS rn
    FROM v CROSS JOIN c1
)
"""

SQL_KMEANS_ASSIGN = _SQL_KMEANS_CTES + """
SELECT vec_id, cid, sim FROM fin WHERE rn = 1
"""


def q_emb_kmeans_summary(spark, sf_dir):
    """Semantic-dedup view of the clustering: per-cluster size, lowest-id
    representative, and mean within-cluster similarity."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, "embedding", "vec_id", k=8)
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("rep_id"),
        F.round(F.avg("sim"), 6).alias("mean_sim"),
    )


SQL_KMEANS_SUMMARY = _SQL_KMEANS_CTES + """
SELECT cid, count(*) AS n_members, min(vec_id) AS rep_id,
       round(avg(sim), 6) AS mean_sim
FROM fin WHERE rn = 1
GROUP BY cid
"""


# --- robust numeric cleaning --------------------------------------------

def q_quality_robust_clip(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = robust_clip_outliers(
        ev, "value", ["event_type"], lo_q=0.05, hi_q=0.95, mad_k=5.0, dp=4
    )
    return out.select("event_id", "event_type", "clipped", "is_outlier")


SQL_ROBUST_CLIP = """
WITH stats AS (
    SELECT event_type,
           round(quantile_cont(value, 0.05), 4) AS lo,
           round(quantile_cont(value, 0.95), 4) AS hi,
           round(quantile_cont(value, 0.5), 4) AS med
    FROM events GROUP BY event_type
), mad AS (
    SELECT e.event_type,
           round(quantile_cont(abs(e.value - s.med), 0.5), 4) AS mad
    FROM events e JOIN stats s USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       round(least(greatest(e.value, s.lo), s.hi), 4) AS clipped,
       abs(e.value - s.med) > CAST(5.0 AS DOUBLE) * m.mad AS is_outlier
FROM events e
JOIN stats s USING (event_type)
JOIN mad m USING (event_type)
"""


R6B_QUERIES = {
    "q2_min_cost_supplier": (q_q2_min_cost_supplier, SQL_Q2),
    "q11_important_parts": (q_q11_important_parts, SQL_Q11),
    "text_bm25_topk": (q_text_bm25_topk, SQL_BM25),
    "emb_kmeans_assign": (q_emb_kmeans_assign, SQL_KMEANS_ASSIGN),
    "emb_kmeans_summary": (q_emb_kmeans_summary, SQL_KMEANS_SUMMARY),
    "quality_robust_clip": (q_quality_robust_clip, SQL_ROBUST_CLIP),
}


# --- behavioral analytics: funnel + cohort retention --------------------

def q_funnel_conversion(spark, sf_dir):
    from stockpy_spark.operators.behavior import funnel_stages

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


# Mirrors funnel_stages pass by pass: step i's timestamp is the min ts
# of that type strictly after step i-1's completion; users who never
# did step 1 are outside the funnel (inner t1 frame).
SQL_FUNNEL = """
WITH t1 AS (
    SELECT user_id AS u, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY 1
), t2 AS (
    SELECT e.user_id AS u, min(e.ts) AS t2
    FROM events e JOIN t1 ON e.user_id = t1.u
    WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
), t3 AS (
    SELECT e.user_id AS u, min(e.ts) AS t3
    FROM events e JOIN t2 ON e.user_id = t2.u
    WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
)
SELECT t1.u AS user_id,
       CASE WHEN t3.t3 IS NOT NULL THEN 3
            WHEN t2.t2 IS NOT NULL THEN 2
            ELSE 1 END AS stage,
       t1.t1 AS t1, t2.t2 AS t2, t3.t3 AS t3
FROM t1
LEFT JOIN t2 ON t1.u = t2.u
LEFT JOIN t3 ON t1.u = t3.u
"""


def q_cohort_retention(spark, sf_dir):
    from stockpy_spark.operators.behavior import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, grain="week")


SQL_COHORT = """
WITH cohorts AS (
    -- CAST: DuckDB date_trunc('week') yields DATE; Spark yields TIMESTAMP
    SELECT user_id AS u, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
    FROM events GROUP BY 1
), active AS (
    SELECT DISTINCT user_id AS u,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS period
    FROM events
)
SELECT cohort, period, count(DISTINCT u) AS n_users
FROM active JOIN cohorts USING (u)
GROUP BY 1, 2
"""


# --- co-purchase PageRank -----------------------------------------------

def q_part_pagerank(spark, sf_dir):
    """Two fixed PageRank iterations over the part co-purchase graph
    (parts sharing an order; ~4 items/order bounds the self-join
    fan-out). Third iterative distributed algorithm under the exact
    value-hash oracle, after connected components and k-means."""
    from stockpy_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank(edges, "src", "dst", weight="w", iterations=2)
    return ranks.select(F.col("node").alias("part"), "rank")


SQL_PAGERANK = """
WITH e AS (
    SELECT a.l_partkey AS s, b.l_partkey AS d, CAST(count(*) AS DOUBLE) AS w
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
), outw AS (
    SELECT s, sum(w) AS ow FROM e GROUP BY 1
), nodes AS (
    SELECT DISTINCT s AS node FROM e
), n AS (
    SELECT count(*) AS n FROM nodes
), r0 AS (
    SELECT node, CAST(1 AS DOUBLE) / n.n AS rank FROM nodes, n
), c1 AS (
    SELECT e.d AS node, sum(r0.rank * e.w / o.ow) AS cin
    FROM e JOIN outw o ON e.s = o.s JOIN r0 ON e.s = r0.node
    GROUP BY 1
), r1 AS (
    SELECT nodes.node,
           round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
                 + CAST(0.85 AS DOUBLE)
                   * coalesce(c1.cin, CAST(0 AS DOUBLE)), 6) AS rank
    FROM nodes LEFT JOIN c1 ON nodes.node = c1.node, n
), c2 AS (
    SELECT e.d AS node, sum(r1.rank * e.w / o.ow) AS cin
    FROM e JOIN outw o ON e.s = o.s JOIN r1 ON e.s = r1.node
    GROUP BY 1
), r2 AS (
    SELECT nodes.node,
           round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
                 + CAST(0.85 AS DOUBLE)
                   * coalesce(c2.cin, CAST(0 AS DOUBLE)), 6) AS rank
    FROM nodes LEFT JOIN c2 ON nodes.node = c2.node, n
)
SELECT node AS part, rank FROM r2
"""


# --- SCD2 history build -------------------------------------------------

def q_scd2_event_history(spark, sf_dir):
    from stockpy_spark.operators.merge import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(ev, "user_id", "event_type", "ts", tiebreak_col="event_id")


SQL_SCD2 = """
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                  OR lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
), isl AS (
    SELECT user_id, event_type, ts, event_id,
           sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS ver
    FROM seq
), vers AS (
    SELECT user_id, ver, min(event_type) AS attr, min(ts) AS valid_from
    FROM isl GROUP BY 1, 2
)
SELECT user_id, attr, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to,
       CAST(ver AS INTEGER) AS version
FROM vers
"""


R6B_QUERIES.update(
    {
        "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL),
        "cohort_retention_weekly": (q_cohort_retention, SQL_COHORT),
        "part_pagerank": (q_part_pagerank, SQL_PAGERANK),
        "scd2_event_history": (q_scd2_event_history, SQL_SCD2),
    }
)


# --- market-basket association rules ------------------------------------

def q_basket_rules(spark, sf_dir):
    """Pair association rules with the 5-per-basket Apriori cap in the
    array formulation (operators/behavior.py association_rules,
    rank_by='id'): one shuffle folds rows into basket arrays, pairs
    enumerate in-array among each basket's 5 lowest item ids as
    UNDIRECTED structs (both directions re-emitted after the HAVING),
    singleton marginals stay exact. Bounds the pair fan-out that made
    the uncapped miner the r06 verdict's 6.6x 100x-scale spot. The
    oracle reproduces the same deterministic cut, so the cap itself is
    under the hash gate."""
    from stockpy_spark.operators.behavior import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_co=3,
        max_basket_items=5, rank_by="id",
    )


SQL_BASKET = """
WITH items AS (
    SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), nb AS (
    SELECT count(DISTINCT b) AS nb FROM items
), cnt AS (
    SELECT i, count(*) AS c FROM items GROUP BY 1
), capped AS (
    SELECT b, i FROM (
        SELECT b, i,
               row_number() OVER (PARTITION BY b ORDER BY i) AS rn
        FROM items
    ) WHERE rn <= 5
), co AS (
    SELECT a.i AS antecedent, b.i AS consequent, count(*) AS co_count
    FROM capped a JOIN capped b ON a.b = b.b AND a.i <> b.i
    GROUP BY 1, 2
    HAVING count(*) >= 3
)
SELECT antecedent, consequent, co_count,
       round(co_count / nb.nb, 6) AS support,
       round(co_count / ca.c, 6) AS confidence,
       round((co_count / ca.c) / (cb.c / nb.nb), 6) AS lift
FROM co
JOIN cnt ca ON co.antecedent = ca.i
JOIN cnt cb ON co.consequent = cb.i, nb
"""


# --- Markov transition matrix -------------------------------------------

def q_event_transitions(spark, sf_dir):
    from stockpy_spark.operators.behavior import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev, tiebreak_col="event_id")


SQL_TRANSITIONS = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
), pairs AS (
    SELECT prev AS prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
), tot AS (
    SELECT prev_type, sum(n) AS t FROM pairs GROUP BY 1
)
SELECT p.prev_type, p.next_type, p.n, round(p.n / t.t, 6) AS prob
FROM pairs p JOIN tot t USING (prev_type)
"""


# --- triangle counting ---------------------------------------------------

def q_graph_triangles(spark, sf_dir):
    """Triangles in the part co-purchase graph via degree-ordered
    orientation (graph.triangle_count); the oracle counts the same
    triangles with a plain a<b<c triple join — the count is
    orientation-invariant, so a hash match proves the oriented
    enumeration exact."""
    from stockpy_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    return triangle_count(pairs)


SQL_TRIANGLES = """
WITH e AS (
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e1.b = e2.a
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


R6B_QUERIES.update(
    {
        "basket_rules": (q_basket_rules, SQL_BASKET),
        "event_transitions": (q_event_transitions, SQL_TRANSITIONS),
        "graph_triangles": (q_graph_triangles, SQL_TRIANGLES),
    }
)


# --- LM-perplexity quality scoring --------------------------------------

def q_text_lm_perplexity(spark, sf_dir):
    from stockpy_spark.operators.textstats import lm_perplexity_scores

    docs = _t(spark, sf_dir, "documents")
    return lm_perplexity_scores(docs, "text", "doc_id")


SQL_LM_PPL = f"""
WITH d AS (
    SELECT doc_id AS doc, {_TOKENS_LOWER_SQL} AS t FROM documents
), big AS (
    SELECT doc, t[i] || ' ' || t[i + 1] AS bg
    FROM (SELECT doc, t, unnest(range(1, len(t))) AS i FROM d)
), c12 AS (
    SELECT bg, count(*) AS c12 FROM big GROUP BY 1
), c1 AS (
    SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM big GROUP BY 1
), v AS (
    SELECT count(DISTINCT tok) AS V
    FROM (SELECT unnest(t) AS tok FROM d)
), lp AS (
    SELECT b.doc,
           ln((c12.c12 + CAST(0.5 AS DOUBLE))
              / (c1.c1 + CAST(0.5 AS DOUBLE) * v.V)) AS lp
    FROM big b
    JOIN c12 USING (bg)
    JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1, v
)
SELECT doc, count(*) AS n_bigrams,
       round(avg(lp), 6) AS avg_logprob,
       round(exp(-round(avg(lp), 6)), 6) AS perplexity
FROM lp GROUP BY doc
"""


# --- n-gram decontamination ---------------------------------------------

def q_decontaminate_eval(spark, sf_dir):
    """Screen a held-out eval split (doc_id % 10 == 0) against the
    training split for 5-gram overlap — the decontamination report a
    training run ships with."""
    from stockpy_spark.operators.spread import spread_small_input
    from stockpy_spark.operators.textstats import ngram_contamination

    # Both sides shingle-explode the docs scan (per-row CPU: 5-gram
    # construction over every token); a single-split read serializes
    # that onto one core — spread it first (measured 5.1 -> 1.5 s at
    # sf0.1; no-op when the scan already carries >= core-count splits).
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    return ngram_contamination(corpus, eval_df, "text", "doc_id", n=5)


SQL_DECONTAM = f"""
WITH d AS (
    SELECT doc_id, {_TOKENS_LOWER_SQL} AS t FROM documents
), esh AS (
    SELECT DISTINCT doc_id AS doc,
           array_to_string(list_slice(t, i, i + 4), ' ') AS sh
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
          FROM d WHERE doc_id % 10 = 0)
), csh AS (
    SELECT DISTINCT doc_id AS cid,
           array_to_string(list_slice(t, i, i + 4), ' ') AS sh
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
          FROM d WHERE doc_id % 10 <> 0)
), hits AS (
    SELECT e.doc, count(DISTINCT e.sh) AS n_shared_ngrams,
           count(DISTINCT c.cid) AS n_corpus_docs
    FROM esh e JOIN csh c USING (sh) GROUP BY 1
)
SELECT ev.doc_id AS doc,
       coalesce(h.n_shared_ngrams, 0) AS n_shared_ngrams,
       coalesce(h.n_corpus_docs, 0) AS n_corpus_docs,
       coalesce(h.n_shared_ngrams, 0) > 0 AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) ev
LEFT JOIN hits h ON ev.doc_id = h.doc
"""


R6B_QUERIES.update(
    {
        "text_lm_perplexity": (q_text_lm_perplexity, SQL_LM_PPL),
        "decontaminate_eval": (q_decontaminate_eval, SQL_DECONTAM),
    }
)


# --- fractional-rank window family + histograms -------------------------

def q_w9_rank_fractions(spark, sf_dir):
    """ntile / percent_rank / cume_dist — the fractional rank windows
    (w6 covers rank/dense_rank). percent_rank and cume_dist are exact
    rationals of integer rank/count, so the doubles agree bit-for-bit
    across engines; no rounding needed."""
    sup = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


SQL_W9 = """
SELECT s_suppkey, s_nationkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


def q_hist_event_values(spark, sf_dir):
    """Equi-width histogram of event values per type over the measured
    global [min, max] — the profiling companion to quality_robust_clip.
    Bounds come from one tiny aggregate broadcast back; the bucket
    index is explicit floor arithmetic (identical doubles in both
    engines; DuckDB has no width_bucket) with the max value folded into
    the top bucket."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 20),
        F.lit(19),
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_HIST = """
WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT event_type,
       CAST(least(floor((value - lo) / (hi - lo) * 20), 19) AS BIGINT)
           AS bucket,
       count(*) AS n
FROM events, bounds
GROUP BY 1, 2
"""


R6B_QUERIES.update(
    {
        "w9_rank_fractions": (q_w9_rank_fractions, SQL_W9),
        "hist_event_values": (q_hist_event_values, SQL_HIST),
    }
)
