"""Round-6 operator unit tests: chunking, sweep-line concurrency,
HLL rollup quality, product quantization."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def test_chunk_documents_grid_and_edges(spark):
    from stockpy_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks: 2 chunks
            (2, "one two"),  # shorter than one chunk
            (3, ""),  # empty -> no chunks
            (4, "   "),  # whitespace-only -> no chunks
            (5, " ".join(f"x{i}" for i in range(8))),  # exactly one step
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "text", "doc_id", chunk_tokens=8, overlap=4)
    rows = {
        (r.doc_id, r.chunk_id): (r.start_tok, r.n_tok, r.chunk_text)
        for r in out.collect()
    }
    # doc 1: starts 0, 4, 8 (last grid point < 10)
    assert rows[(1, 0)] == (0, 8, " ".join(f"t{i}" for i in range(8)))
    assert rows[(1, 1)] == (4, 6, " ".join(f"t{i}" for i in range(4, 10)))
    assert rows[(1, 2)] == (8, 2, "t8 t9")
    assert rows[(2, 0)] == (0, 2, "one two")
    assert (3, 0) not in rows and (4, 0) not in rows
    # 8 tokens: starts 0 and 4 (grid floor((8-1)/4)*4 = 4)
    assert rows[(5, 1)][0] == 4 and rows[(5, 1)][1] == 4
    assert len(rows) == 3 + 1 + 2

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "text", "doc_id", chunk_tokens=8, overlap=8)


def test_interval_concurrency_half_open_sweep(spark):
    from stockpy_spark.operators.timeseries import interval_concurrency

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    iv = spark.createDataFrame(
        [
            ("a", t(0), t(10)),
            ("a", t(5), t(15)),   # overlaps the first
            ("a", t(10), t(20)),  # starts exactly when #1 ends: no overlap
            ("a", t(10), t(12)),  # -> 3 concurrent during [10, 12)
            ("b", t(0), t(1)),
        ],
        "k string, s timestamp, e timestamp",
    )
    out = interval_concurrency(iv, "s", "e", ["k"])
    lvl = {(r.k, r.at_ts.second): r.concurrent for r in out.collect()}
    assert lvl[("a", 0)] == 1
    assert lvl[("a", 5)] == 2
    # at t=10: one ends, two start -> net +1 on level 2's base of 1... the
    # active set during [10, 12) is {#2, #3, #4} = 3
    assert lvl[("a", 10)] == 3
    assert lvl[("a", 12)] == 2
    assert lvl[("a", 15)] == 1
    assert lvl[("a", 20)] == 0
    assert lvl[("b", 0)] == 1 and lvl[("b", 1)] == 0
    # exactly one row per distinct boundary instant
    assert out.groupBy("k", "at_ts").count().where("count > 1").isEmpty()


def test_hll_rollup_quality_gate_and_grid(spark):
    from stockpy_spark.operators.sketches import hll_rollup_quality

    ev = spark.createDataFrame(
        [
            (datetime(2024, 1, 1 + d, h), (d * 37 + h * 11) % 50)
            for d in range(7)
            for h in range(6)
        ],
        "ts timestamp, user_id long",
    )
    out = hll_rollup_quality(
        ev, "ts", "user_id", fine_seconds=86_400, coarse_seconds=604_800
    ).collect()
    assert all(r.gate_rel_err_ok == 1 for r in out)
    # 7 days span at most 2 ISO weeks; fine bucket counts must sum to 7
    assert sum(r.n_fine_buckets for r in out) == 7

    with pytest.raises(ValueError, match="multiple"):
        hll_rollup_quality(ev, "ts", "user_id", 86_400, 100_000)


def test_pq_quantize_seeds_reconstruct_exactly(spark):
    from stockpy_spark.operators.similarity import pq_quantize

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 31 + p * 7) % 97) for p in range(8)])
            for i in range(40)
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in pq_quantize(vecs, "embedding", "vec_id", m=2, k=16).collect()}
    assert len(out) == 40
    # each of the 16 seed vectors is its own nearest codebook entry in
    # every subspace: codes "i,i" and zero reconstruction error
    for i in range(16):
        assert out[i].codes == f"{i},{i}", out[i]
        assert out[i].recon_err == 0.0
    # codes have m entries, all within [0, k)
    for r in out.values():
        parts = [int(c) for c in r.codes.split(",")]
        assert len(parts) == 2 and all(0 <= c < 16 for c in parts)
        assert r.recon_err >= 0.0

    with pytest.raises(ValueError, match="divisible"):
        pq_quantize(vecs, "embedding", "vec_id", m=3, k=4)


def test_incremental_dedup_admit_stages(spark):
    from stockpy_spark.operators.dedup import incremental_dedup_admit

    mk = lambda i, t: (i, t)
    corpus = spark.createDataFrame(
        [
            mk(1, "alpha beta gamma delta epsilon zeta"),
            mk(2, "totally different corpus content here now"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            mk(10, "alpha beta gamma delta epsilon zeta"),  # exact corpus dup
            mk(11, "fresh unseen wording nothing shared one"),
            mk(12, "fresh unseen wording nothing shared one"),  # exact batch dup
            mk(13, "completely novel text with own tokens two"),
            mk(14, ""),  # token-less: passes LSH stages
            mk(15, ""),  # exact dup of 14 -> rejected
        ],
        "doc_id long, text string",
    )
    admitted = sorted(
        r.doc_id
        for r in incremental_dedup_admit(batch, corpus, "text", "doc_id").collect()
    )
    # 10 exact-vs-corpus dropped; 12 exact-within-batch dropped; 15
    # exact-dup of 14 dropped; 11, 13, 14 admitted
    assert admitted == [11, 13, 14]


def test_incremental_dedup_near_dup_bucket_rejection(spark):
    from stockpy_spark.operators.dedup import incremental_dedup_admit

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    # same token SET as the corpus doc (minhash is over distinct
    # tokens), different string -> not an exact dup, but every band
    # bucket collides -> near-dup rejection
    shuffled = "again and again the lazy dog jumps over the quick brown fox"
    batch = spark.createDataFrame(
        [(10, shuffled), (11, "unrelated totally distinct content")],
        "doc_id long, text string",
    )
    admitted = [
        r.doc_id
        for r in incremental_dedup_admit(batch, corpus, "text", "doc_id").collect()
    ]
    assert admitted == [11]


def test_weighted_sample_topk_properties(spark):
    from stockpy_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame(
        [(i, float(1 + i % 10)) for i in range(200)], "id long, w double"
    ).union(spark.createDataFrame([(999, 0.0), (998, None)], "id long, w double"))
    out = weighted_sample_topk(df, "id", "w", k=30).collect()
    assert len(out) == 30
    ids = {r.id for r in out}
    assert 999 not in ids and 998 not in ids  # non-positive/null excluded
    # rerun-stable
    again = {r.id for r in weighted_sample_topk(df, "id", "w", k=30).collect()}
    assert ids == again
    # keys are valid probabilities-like values in (0, 1]
    assert all(0 < r["__wkey"] <= 1 for r in out)
    # heavier weights should dominate the sample: mean weight of the
    # sample must exceed the population mean (5.5)
    mean_w = sum(r.w for r in out) / len(out)
    assert mean_w > 5.5


def test_word_jaccard_verify_tier_guard(spark):
    """The quadratic exact-Jaccard emitter must refuse corpus-scale
    inputs loudly (dedup.py WORD_JACCARD_MAX_DOCS) and keep working
    under the cap / with the opt-out."""
    import pytest as _pytest

    from stockpy_spark.operators.dedup import word_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} shared common") for i in range(10)],
        "doc_id long, text string",
    )
    # under the cap: runs
    assert word_jaccard_pairs(docs, "text", "doc_id", 0.9).count() >= 0
    # over a tiny cap: loud error naming the scale path
    with _pytest.raises(ValueError, match="verify-tier"):
        word_jaccard_pairs(docs, "text", "doc_id", 0.9, max_docs=5)
    # opt-out for bounded candidate sets
    assert word_jaccard_pairs(
        docs, "text", "doc_id", 0.9, max_docs=None
    ).count() >= 0


def test_pq_arrow_equals_expression_path(spark):
    """The Arrow-batched PQ kernel must be bit-identical to the
    expression-tree path (same codebook, same double arithmetic, same
    lowest-cid tie rule) — this equality is what lets the registry
    query take the 4.9x-faster kernel while keeping the exact SQL
    oracle."""
    from stockpy_spark.operators.similarity import (
        pq_quantize,
        pq_quantize_arrow,
    )

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 37 + p * 11) % 251) for p in range(12)])
            for i in range(60)
        ],
        "vec_id long, embedding array<float>",
    )
    a = {
        r.vec_id: (r.codes, r.recon_err)
        for r in pq_quantize(vecs, "embedding", "vec_id", m=3, k=8).collect()
    }
    b = {
        r.vec_id: (r.codes, r.recon_err)
        for r in pq_quantize_arrow(vecs, "embedding", "vec_id", m=3, k=8).collect()
    }
    assert a == b and len(a) == 60


def test_zorder_layout_tightens_all_dimensions(spark, tmp_path):
    """Writing Z-ordered must make per-file min/max spans tight in BOTH
    interleaved dimensions, where a single-column sort leaves the other
    dimension spanning ~the full domain — the data-skipping property
    itself, measured on real parquet footers."""
    from stockpy_spark.operators.layout import (
        measure_file_spans,
        write_zordered,
        zorder_key,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 139).alias("y"),
    )
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zordered(df, zpath, ["x", "y"], n_files=16)
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(spath)
    )
    zs = measure_file_spans(spark, zpath, ["x", "y"]).collect()
    ss = measure_file_spans(spark, spath, ["x", "y"]).collect()
    # a second measurement reads with the session's cached schema, and
    # the `_metadata` file column still resolves
    assert sorted(measure_file_spans(spark, zpath, ["x", "y"]).collect()) == sorted(zs)
    zx = sum(r.span_x for r in zs) / len(zs)
    zy = sum(r.span_y for r in zs) / len(zs)
    sx = sum(r.span_x for r in ss) / len(ss)
    sy = sum(r.span_y for r in ss) / len(ss)
    # x-sorted: x tight, y spans everything
    assert sx < 0.2 and sy > 0.8
    # z-ordered: BOTH dimensions well under the full span on average
    # (a few curve-transition files legitimately span a whole dim, so
    # the figure of merit is the mean — i.e. expected pruning — not
    # the worst file)
    assert zx < 0.5 and zy < 0.5, (zx, zy)
    assert zy < sy / 2  # z beats the single-column sort on the other dim

    # key sanity: 2-dim interleave of equal ranks is monotone in rank
    k = zorder_key(
        spark.createDataFrame([(0, 0), (100, 100), (255, 255)], "x long, y long"),
        ["x", "y"],
        bits=8,
    ).collect()
    ks = sorted((r.x, r["__zkey"]) for r in k)
    assert ks[0][1] < ks[1][1] < ks[2][1]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="64-bit"):
        zorder_key(df, ["x", "y", "x", "y"], bits=16)


def test_write_with_metrics_single_action(spark, tmp_path):
    """Observation metrics must arrive from the write's own action (no
    second scan) and match the written data exactly."""
    from stockpy_spark.sources.writers import write_with_metrics

    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 7).alias("v"),
    )
    path = str(tmp_path / "obs")
    got = write_with_metrics(
        df,
        path,
        {
            "n": F.count(F.lit(1)),
            "null_v": F.sum(F.col("v").isNull().cast("long")),
            "sum_v": F.sum("v"),
        },
    )
    back = spark.read.parquet(path)
    assert got["n"] == 1000 == back.count()
    assert got["null_v"] == 100
    assert got["sum_v"] == back.agg(F.sum("v")).first()[0]


def test_kll_rollup_quality_grid_and_gates(spark):
    """Weekly KLL rollup over a known distribution: the merged sketch's
    quantile estimates must land within the rank-error gate, the grid
    must count its fine buckets, and a mis-multiple grid must refuse."""
    from datetime import datetime, timedelta

    import pytest

    from stockpy_spark.operators.sketches import kll_rollup_quality

    base = datetime(2024, 1, 1)
    rows = [
        (base + timedelta(days=d, seconds=i), float(i % 100))
        for d in range(7)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = kll_rollup_quality(
        df, "ts", "v", fine_seconds=86_400, coarse_seconds=604_800
    ).collect()
    assert len(out) >= 1
    for r in out:
        assert r.ok_q25 == 1 and r.ok_q50 == 1 and r.ok_q75 == 1
        assert r.n_fine_buckets >= 1 and r.n_rows >= 200

    with pytest.raises(ValueError, match="multiple"):
        kll_rollup_quality(df, "ts", "v", 86_400, 100_000)


def test_theta_overlap_exact_algebra(spark):
    """Theta set-op gates on a small exactly-known overlap: a={1..40},
    b={21..60} -> |a|=40, |b|=40, union=60, intersection=20,
    difference=20; every gate must pass and NULL keys are excluded."""
    from stockpy_spark.operators.sketches import theta_overlap_quality

    rows = (
        [("a", i) for i in range(1, 41)]
        + [("b", i) for i in range(21, 61)]
        + [("a", None), ("c", 7)]  # null key + foreign segment: ignored
    )
    df = spark.createDataFrame(rows, "seg string, k int")
    out = {r.measure: (r.exact, r.gate_ok)
           for r in theta_overlap_quality(df, "seg", "k", "a", "b").collect()}
    assert out["a"] == (40, 1) and out["b"] == (40, 1)
    assert out["union"] == (60, 1)
    assert out["intersection"] == (20, 1)
    assert out["difference"] == (20, 1)


def test_ols2_exact_fit_and_singular_guard(spark):
    """y = 3 + 2*x1 - 1*x2 exactly -> coefficients recover exactly;
    collinear features -> NULL coefficients; type contract enforced."""
    import pytest
    from decimal import Decimal

    from pyspark.sql import functions as F

    from stockpy_spark.operators.stats import ols2_by_group

    rows = []
    for x1 in range(6):
        for x2 in range(4):
            rows.append(("g", x1, x2, Decimal(3 + 2 * x1 - x2)))
    # collinear group: x2 = 2*x1 everywhere -> singular normal matrix
    rows += [("s", i, 2 * i, Decimal(i)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "grp string, x1 int, x2 int, y decimal(18,4)"
    )
    out = {r.grp: r for r in ols2_by_group(df, "grp", "y", "x1", "x2").collect()}
    assert out["g"].n == 24
    assert (out["g"].b0, out["g"].b1, out["g"].b2) == (3.0, 2.0, -1.0)
    assert out["s"].b0 is None and out["s"].b1 is None and out["s"].b2 is None

    with pytest.raises(ValueError, match="integer-typed"):
        ols2_by_group(df.withColumn("x1", F.col("x1").cast("double")),
                      "grp", "y", "x1", "x2")
    with pytest.raises(ValueError, match="DECIMAL-typed"):
        ols2_by_group(df.withColumn("y", F.col("y").cast("double")),
                      "grp", "y", "x1", "x2")
