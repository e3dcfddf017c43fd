"""Linear quality-probe training: exact-Gram mergeability, bit-stable
GD, score-expression parity with the driver-side float program, and the
streaming Gram maintenance sink (stream == batch, retrain bit-equal)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.classifier import (
    PROBE_BUCKETS,
    _gram_cols,
    feature_counts_expr,
    gd_weights,
    gram_matrices,
    probe_gram,
    probe_score_expr,
    train_linear_probe,
)

_D = PROBE_BUCKETS


def _docs(spark):
    rows = [
        (0, "good long document with many useful words " * 3, 1),
        (1, "short spam", 0),
        (2, "another quality text full of informative tokens " * 2, 1),
        (3, "buy now click here", 0),
        (4, "tokens repeat tokens repeat tokens repeat tokens", 1),
        (5, "x", 0),
        (6, "", 0),  # empty text: one '' token, still a valid row
        (7, "medium length sentence about data pipelines", 1),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_gram_merges_by_cellwise_sum(spark):
    """G(A ∪ B) == G(A) + G(B) cell for cell — the exact-integer
    mergeability the streaming sink is built on."""
    docs = _docs(spark)
    lab = F.col("y") == 1
    whole = probe_gram(docs, lab).first()
    a = probe_gram(docs.filter(F.col("doc_id") < 4), lab).first()
    b = probe_gram(docs.filter(F.col("doc_id") >= 4), lab).first()
    for j, k in _gram_cols(_D):
        c = f"g_{j}_{k}"
        assert whole[c] == a[c] + b[c], c


def test_gram_partitioning_invariant(spark):
    """The Gram is identical under any input partitioning (integer
    sums are order-free)."""
    docs = _docs(spark)
    lab = F.col("y") == 1
    one = probe_gram(docs.coalesce(1), lab).first()
    many = probe_gram(docs.repartition(7), lab).first()
    assert tuple(one) == tuple(many)


def test_train_is_rerun_stable_bitwise(spark):
    docs = _docs(spark)
    w1 = train_linear_probe(docs, F.col("y") == 1)
    w2 = train_linear_probe(docs.repartition(5), F.col("y") == 1)
    assert w1 == w2  # bit-identical, not approx


def test_gd_matches_hand_rolled_reference():
    """gd_weights against an independently coded textbook GD on a tiny
    dense system (same pinned op order)."""
    s = [[4.0, 2.0], [2.0, 3.0]]
    b = [10.0, 7.0]
    n, lr, lam, iters = 5.0, 0.25, 0.0625, 3
    w = [0.0, 0.0]
    for _ in range(iters):
        w = [
            w[j]
            - lr * (((s[j][0] * w[0] + s[j][1] * w[1]) - b[j]) / n + lam * w[j])
            for j in range(2)
        ]
    assert gd_weights(s, b, n, lr, lam, iters) == w


def test_score_expr_matches_driver_fold(spark):
    """probe_score_expr (JVM expression) must be BIT-equal to the same
    left-associated fold run in Python doubles."""
    docs = _docs(spark)
    w = train_linear_probe(docs, F.col("y") == 1)
    feats = docs.select(
        "doc_id", feature_counts_expr(F.col("text"), _D).alias("xs")
    ).collect()
    want = {}
    for r in feats:
        acc = float(r.xs[0]) * w[0]
        for j in range(1, _D):
            acc = acc + float(r.xs[j]) * w[j]
        want[r.doc_id] = acc + w[_D]
    got = {
        r.doc_id: r.score
        for r in docs.select(
            "doc_id", probe_score_expr(F.col("text"), w, _D).alias("score")
        ).collect()
    }
    assert got == want  # bit-identical


def test_probe_learns_separable_labels(spark):
    """On a linearly separable corpus (distinct vocabularies) the probe
    must rank every positive above every negative."""
    rows = [(i, "alpha beta gamma alpha beta", 1) for i in range(20)]
    rows += [(100 + i, "delta epsilon zeta epsilon", 0) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w = train_linear_probe(docs, F.col("y") == 1, iters=32)
    sc = docs.select(
        "y", probe_score_expr(F.col("text"), w, _D).alias("s")
    ).collect()
    pos = [r.s for r in sc if r.y == 1]
    neg = [r.s for r in sc if r.y == 0]
    assert min(pos) > max(neg)


def test_gram_plan_has_no_data_shuffle(spark):
    """Training I/O is ONE scan + a single-row reduce: the physical
    plan must contain no hash-partitioned exchange (featurization is
    pure higher-order functions, no explode/groupBy)."""
    plan = probe_gram(
        _docs(spark), F.col("y") == 1
    )._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan


def test_probe_gram_maintenance_stream_equals_batch(spark, tmp_path):
    """Draining a 3-batch feed through the sink leaves a Gram row
    CELL-identical to the batch build over the whole feed, and weights
    retrained from it are BIT-identical to batch training."""
    from fotmobdatapipeline_spark.streaming.sketches import probe_gram_maintenance_sink
    from fotmobdatapipeline_spark.streaming.statefs import read_state

    docs = _docs(spark)
    src = tmp_path / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate(((0, 3), (3, 6), (6, 8))):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string, y int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = probe_gram_maintenance_sink(
        stream, str(tmp_path / "model"), str(tmp_path / "ckpt"),
        is_positive=F.col("y") == 1, d=_D,
    )
    q.processAllAvailable()
    q.stop()

    streamed = read_state(spark, str(tmp_path / "model")).first()
    want = probe_gram(docs, F.col("y") == 1).first()
    for j, k in _gram_cols(_D):
        c = f"g_{j}_{k}"
        assert streamed[c] == want[c], c

    s, b, n = gram_matrices(streamed, _D)
    assert gd_weights(s, b, n) == train_linear_probe(docs, F.col("y") == 1)
