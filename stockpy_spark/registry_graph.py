"""Graph query family: connected-components dedup clustering.

The oracle is exact transitive closure via DuckDB WITH RECURSIVE
reachability over the SAME deterministic edge set the Spark side uses
(the word-Jaccard >= 0.8 pair query, whose own oracle is hash-green),
so a hash match proves the iterative min-label propagation converged to
the true component assignment — a rare case of an iterative distributed
algorithm under a full SQL hash gate rather than a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.dedup import minhash_lsh_star_edges, word_jaccard_pairs
from stockpy_spark.operators.graph import dedup_components
from stockpy_spark.registry_ext import SQL_MINHASH_BSIG_CTES, SQL_WORD_JACCARD
from stockpy_spark.sources.testdata import _t


def q_graph_dedup_components(spark, sf_dir):
    """Transitive near-dup clusters over the documents table: edges =
    word-Jaccard >= 0.8 pairs, components via min-label propagation
    (operators/graph.py), one row per document with its component id
    (min doc_id reachable) and the keep/drop representative flag."""
    docs = _t(spark, sf_dir, "documents")
    pairs = word_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    return dedup_components(docs.select("doc_id"), pairs)


SQL_GRAPH_CC = f"""
WITH RECURSIVE pairs AS (
    SELECT d1, d2 FROM ({SQL_WORD_JACCARD})
), und AS (
    SELECT d1 AS a, d2 AS b FROM pairs
    UNION ALL
    SELECT d2 AS a, d1 AS b FROM pairs
), walk(v, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT und.b, walk.lbl FROM walk JOIN und ON und.a = walk.v
)
SELECT v AS doc_id, MIN(lbl) AS component,
       (v = MIN(lbl)) AS is_representative
FROM walk GROUP BY v
"""


def q_pipeline_dedup_cc(spark, sf_dir):
    """End-to-end transitive dedup: near-dup pairs -> connected
    components -> keep only min-id representatives -> per-language
    corpus stats. The composition every production corpus dedup runs
    (pair emitters alone under-remove: A~B, B~C keeps C unless the
    closure is taken).

    Edges come from the SCALE-path emitter: MinHash-LSH STAR edges
    (dedup.py:minhash_lsh_star_edges — each bucket member connects to
    the bucket's min doc, O(docs x bands) edges), NOT all-pairs bucket
    enumeration and NOT the exact-Jaccard self-join
    graph_dedup_components uses. Measured on the synthetic sf1: the
    all-pairs emitter explodes to 224M candidate pairs (GC death on
    8g); star edges stay ~n_docs and the pipeline runs. A bucket is a
    clique in the candidate graph, so the star preserves its connected
    components exactly; the md5-derived signatures keep the edge set
    bit-for-bit SQL-reproducible, so the full scale-path composition
    still sits under the exact recursive-CTE hash gate."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_star_edges(docs, "text", "doc_id", num_hashes=12, bands=2)
    comp = dedup_components(docs.select("doc_id"), pairs)
    kept = docs.join(
        comp.where(F.col("is_representative")).select("doc_id"),
        "doc_id",
        "inner",
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


SQL_PIPE_CC = f"""
WITH RECURSIVE {SQL_MINHASH_BSIG_CTES}, bucket_min AS (
    SELECT band, bs, MIN(doc) AS bmin FROM bsig GROUP BY band, bs
), pairs AS (
    SELECT DISTINCT b1.bmin AS d1, b.doc AS d2
    FROM bsig b
    JOIN bucket_min b1 ON b.band = b1.band AND b.bs = b1.bs
    WHERE b.doc <> b1.bmin
), und AS (
    SELECT d1 AS a, d2 AS b FROM pairs
    UNION ALL
    SELECT d2 AS a, d1 AS b FROM pairs
), walk(v, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT und.b, walk.lbl FROM walk JOIN und ON und.a = walk.v
), comp AS (
    SELECT v AS doc_id, MIN(lbl) AS component FROM walk GROUP BY v
), kept AS (
    SELECT d.* FROM documents d
    JOIN comp c ON d.doc_id = c.doc_id AND c.doc_id = c.component
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang
"""



def q_graph_label_prop(spark, sf_dir):
    """Semi-supervised label propagation (operators/graph.py
    label_propagation — frozen-label variant: seeds fixed, each
    synchronized round unlabeled nodes adopt the majority label of
    their labeled neighbors, ties to the smallest, then freeze; a
    multi-source BFS with per-wave majority votes, monotone and
    oscillation-free). Seeds = docs with doc_id %% 5 == 0 carrying
    their lang; edges = the word-Jaccard >= 0.8 pair set whose own
    oracle is hash-green; 3 rounds. The oracle is the SAME process
    unrolled as three SQL stages, so every (label, labeled_round)
    cell — including NULLs for unreached nodes — is replayed
    exactly. The iterative-algorithm gate pattern of
    graph_dedup_components, applied to label spread."""
    from stockpy_spark.operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents")
    edges = word_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    seeds = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("label")
    )
    out = label_propagation(docs, edges, seeds, rounds=3)
    return out.select(
        "doc_id", "label", F.col("labeled_round").cast("int").alias("labeled_round")
    )


SQL_GRAPH_LPA = f"""
WITH pairs AS (
    SELECT d1, d2 FROM ({SQL_WORD_JACCARD})
), und AS (
    SELECT d1 AS a, d2 AS b FROM pairs
    UNION ALL
    SELECT d2 AS a, d1 AS b FROM pairs
), l0 AS (
    SELECT doc_id AS id, lang AS label, 0 AS r
    FROM documents WHERE doc_id % 5 = 0
), n1 AS (
    SELECT u.b AS id, l.label, count(*) AS c
    FROM und u JOIN l0 l ON u.a = l.id
    WHERE u.b NOT IN (SELECT id FROM l0)
    GROUP BY u.b, l.label
), p1 AS (
    SELECT id, label, 1 AS r FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n1) WHERE rn = 1
), l1 AS (
    SELECT * FROM l0 UNION ALL SELECT * FROM p1
), n2 AS (
    SELECT u.b AS id, l.label, count(*) AS c
    FROM und u JOIN l1 l ON u.a = l.id
    WHERE u.b NOT IN (SELECT id FROM l1)
    GROUP BY u.b, l.label
), p2 AS (
    SELECT id, label, 2 AS r FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n2) WHERE rn = 1
), l2 AS (
    SELECT * FROM l1 UNION ALL SELECT * FROM p2
), n3 AS (
    SELECT u.b AS id, l.label, count(*) AS c
    FROM und u JOIN l2 l ON u.a = l.id
    WHERE u.b NOT IN (SELECT id FROM l2)
    GROUP BY u.b, l.label
), p3 AS (
    SELECT id, label, 3 AS r FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n3) WHERE rn = 1
), l3 AS (
    SELECT * FROM l2 UNION ALL SELECT * FROM p3
)
SELECT d.doc_id, l.label, CAST(l.r AS INTEGER) AS labeled_round
FROM documents d LEFT JOIN l3 l ON d.doc_id = l.id
"""

GRAPH_QUERIES = {
    "graph_dedup_components": (q_graph_dedup_components, SQL_GRAPH_CC),
    "pipeline_dedup_cc": (q_pipeline_dedup_cc, SQL_PIPE_CC),
    "graph_label_prop": (q_graph_label_prop, SQL_GRAPH_LPA),
}
