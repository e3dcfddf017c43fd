"""DSIR importance-weighting semantics: target-like raw docs must score
above target-unlike ones, the target slice itself is never scored, and
degenerate docs don't break the fold."""

from __future__ import annotations

from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.selection import (
    dsir_logratio_weights,
    hashed_bigram_buckets,
)


def _docs(spark):
    rows = []
    # target slice (ids 0-9): "alpha beta" language
    for i in range(10):
        rows.append((i, "alpha beta alpha beta alpha beta gamma"))
    # raw docs 100-109: target-like
    for i in range(100, 110):
        rows.append((i, "alpha beta alpha beta something else alpha beta"))
    # raw docs 200-209: target-unlike
    for i in range(200, 210):
        rows.append((i, "delta epsilon zeta delta epsilon zeta delta epsilon"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_orders_target_like_above_unlike(spark):
    w = dsir_logratio_weights(
        _docs(spark), is_target=F.col("doc_id") < 10, buckets=256
    )
    got = {r["doc_id"]: r["weight"] for r in w.collect()}
    assert set(got) == set(range(100, 110)) | set(range(200, 210))  # no targets
    like = [got[i] for i in range(100, 110)]
    unlike = [got[i] for i in range(200, 210)]
    assert min(like) > max(unlike)


def test_dsir_weight_is_rerun_stable(spark):
    docs = _docs(spark)
    a = dsir_logratio_weights(docs, F.col("doc_id") < 10, buckets=256,
                              round_to=None).collect()
    b = dsir_logratio_weights(docs, F.col("doc_id") < 10, buckets=256,
                              round_to=None).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # bit-identical


def test_dsir_stream_scoring_bit_equal_to_batch(spark, tmp_path):
    """The deploy-time stream scorer (per-row expression fold) must be
    BIT-equal to the batch groupBy scorer on the same rows — same float
    program: distinct buckets ascending, one cnt*lnr multiply each,
    sequential adds from 0.0."""
    from fotmobdatapipeline_spark.operators.selection import (
        dsir_ratio_table,
        dsir_ratio_vector,
        dsir_score_stream,
    )

    docs = _docs(spark)
    B = 256
    batch = dsir_logratio_weights(
        docs, F.col("doc_id") < 10, buckets=B, round_to=None
    )
    want = {r["doc_id"]: (r["n_bigrams"], r["weight"]) for r in batch.collect()}

    _, ratio = dsir_ratio_table(docs, F.col("doc_id") < 10, buckets=B)
    vec = dsir_ratio_vector(ratio, buckets=B)

    # same expression on a BATCH frame first (pure float-program check)
    raw = docs.filter(F.col("doc_id") >= 10)
    inline = dsir_score_stream(raw, vec, round_to=None)
    got = {r["doc_id"]: (r["n_bigrams"], r["weight"]) for r in inline.collect()}
    assert got == want  # bit-identical, not approx

    # and through an actual file stream
    src = str(tmp_path / "src")
    raw.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = (
        dsir_score_stream(stream, vec, round_to=None)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    landed = spark.read.parquet(str(tmp_path / "sink"))
    got_s = {r["doc_id"]: (r["n_bigrams"], r["weight"]) for r in landed.collect()}
    assert got_s == want


def test_dsir_model_maintenance_stream_equals_batch(spark, tmp_path):
    """The streaming model sink folds per-batch bucket counts by sum:
    after draining a 3-batch feed the stored (bucket, ct, cs) table is
    CELL-identical to one batch build over the whole feed, and weights
    scored from the streamed model are BIT-identical to the batch
    scorer's."""
    from fotmobdatapipeline_spark.operators.selection import (
        dsir_bucket_counts,
        dsir_ratio_from_counts,
        dsir_ratio_vector,
        dsir_score_stream,
    )
    from fotmobdatapipeline_spark.streaming.sketches import dsir_model_maintenance_sink
    from fotmobdatapipeline_spark.streaming.statefs import read_state

    docs = _docs(spark)
    B = 256
    src = tmp_path / "src"
    src.mkdir()
    for i, lo in enumerate((0, 100, 200)):  # targets, like-raw, unlike-raw
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
        ).coalesce(1).write.parquet(str(src / f"b{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = dsir_model_maintenance_sink(
        stream, str(tmp_path / "model"), str(tmp_path / "ckpt"),
        is_target=F.col("doc_id") < 10, buckets=B,
    )
    q.processAllAvailable()
    q.stop()

    streamed = read_state(spark, str(tmp_path / "model"))
    got = sorted(
        (r["bucket"], r["ct"], r["cs"]) for r in streamed.collect()
    )
    want = sorted(
        map(tuple, dsir_bucket_counts(docs, F.col("doc_id") < 10, buckets=B).collect())
    )
    assert got == want  # cell-identical

    # and the scorer path from the streamed model is bit-equal to batch
    vec = dsir_ratio_vector(
        dsir_ratio_from_counts(streamed.select("bucket", "ct", "cs"), buckets=B),
        buckets=B,
    )
    raw = docs.filter(F.col("doc_id") >= 10)
    via_stream_model = {
        r["doc_id"]: r["weight"]
        for r in dsir_score_stream(raw, vec, round_to=None).collect()
    }
    via_batch = {
        r["doc_id"]: r["weight"]
        for r in dsir_logratio_weights(
            docs, F.col("doc_id") < 10, buckets=B, round_to=None
        ).collect()
    }
    assert via_stream_model == via_batch


def test_bigram_buckets_degenerate_docs(spark):
    df = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    got = hashed_bigram_buckets(df).collect()
    # only the 2-token doc produces a bigram; short docs drop out (and
    # therefore get no weight row — the documented contract)
    assert {r["doc_id"] for r in got} == {3}
    assert sum(r["cnt"] for r in got) == 1


def test_bigram_lm_nll_ranks_fluent_above_gibberish(spark):
    """The CCNet-style filter's defining property: raw docs written in
    the reference language score LOWER nll (more fluent) than docs made
    of bigrams the reference LM never saw; the reference slice itself is
    never scored; a 1-token doc emits no row."""
    from fotmobdatapipeline_spark.operators.selection import bigram_lm_nll

    rows = [(i, "the cat sat on the mat and the cat slept") for i in range(10)]
    rows += [(100, "the cat sat on the mat"), (101, "zqx vvk jjw qqp zzt bbn")]
    rows += [(102, "word")]  # no bigrams -> no output row
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bigram_lm_nll(docs, is_ref=F.col("doc_id") < 100)
    got = {r["doc_id"]: r["nll"] for r in out.collect()}
    assert set(got) == {100, 101}
    assert got[100] < got[101]


def test_bigram_lm_nll_hand_computed(spark):
    """Bit-level pin against a pure-Python replica (same md5 bucket hash,
    same smoothing, same ascending-(bu, bb) sequential fold, same final
    divide + round) — the cross-engine exactness contract the DuckDB
    oracle relies on."""
    import hashlib
    import math

    from fotmobdatapipeline_spark.operators.selection import (
        DSIR_BUCKETS,
        bigram_lm_nll,
    )

    ref = "a b a c a b"
    raw = "a b x"
    docs = spark.createDataFrame(
        [(0, ref), (1, raw)], "doc_id long, text string"
    )
    out = bigram_lm_nll(docs, is_ref=F.col("doc_id") == 0)
    got = {r["doc_id"]: (r["n_bigrams"], r["nll"]) for r in out.collect()}

    def bucket(salt, s):
        return int(hashlib.md5(f"{salt}:{s}".encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    def grams(text):
        t = text.split(" ")
        return [f"{t[i]} {t[i+1]}" for i in range(len(t) - 1)]

    uni: dict[int, int] = {}
    bi: dict[int, int] = {}
    for g in grams(ref):
        uni[bucket("lmu", g.split(" ")[0])] = uni.get(bucket("lmu", g.split(" ")[0]), 0) + 1
        bi[bucket("lmb", g)] = bi.get(bucket("lmb", g), 0) + 1
    per: dict[tuple[int, int], int] = {}
    for g in grams(raw):
        k = (bucket("lmu", g.split(" ")[0]), bucket("lmb", g))
        per[k] = per.get(k, 0) + 1
    s = 0.0
    for (bu, bb), cnt in sorted(per.items()):
        s += float(cnt) * -math.log(
            (float(bi.get(bb, 0)) + 1.0) / (float(uni.get(bu, 0)) + float(DSIR_BUCKETS))
        )
    n = sum(per.values())
    assert got[1] == (n, round(s / n, 4))


def test_lm_stream_scoring_bit_equal_to_batch(spark, tmp_path):
    """The perplexity stream scorer (per-row expression fold against the
    embedded count vectors) must be BIT-equal to the batch groupBy
    scorer: same distinct-(bu, bb)-ascending order, same cnt * -ln term,
    same sequential adds, same final divide."""
    from fotmobdatapipeline_spark.operators.selection import (
        bigram_lm_counts,
        bigram_lm_nll,
        lm_count_vectors,
        lm_score_stream,
    )

    docs = _docs(spark)
    B = 256
    batch = bigram_lm_nll(docs, F.col("doc_id") < 10, buckets=B, round_to=None)
    want = {r["doc_id"]: (r["n_bigrams"], r["nll"]) for r in batch.collect()}

    uni, bi = bigram_lm_counts(docs.filter(F.col("doc_id") < 10), buckets=B)
    cu, cb = lm_count_vectors(uni, bi, buckets=B)

    raw = docs.filter(F.col("doc_id") >= 10)
    inline = lm_score_stream(raw, cu, cb, round_to=None)
    got = {r["doc_id"]: (r["n_bigrams"], r["nll"]) for r in inline.collect()}
    assert got == want  # bit-identical, not approx

    src = str(tmp_path / "src")
    raw.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        lm_score_stream(stream, cu, cb, round_to=None)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    landed = spark.read.parquet(str(tmp_path / "sink"))
    got_s = {r["doc_id"]: (r["n_bigrams"], r["nll"]) for r in landed.collect()}
    assert got_s == want


def test_lm_stream_survives_sub_bigram_docs(spark):
    """ANSI divide-by-zero guard: a 1-token document in the stream must
    be dropped by the n_bigrams filter, never wedge the query with
    DIVIDE_BY_ZERO evaluated before the filter."""
    from fotmobdatapipeline_spark.operators.selection import lm_score_stream

    B = 64
    docs = spark.createDataFrame(
        [(1, "word"), (2, "two words here")], "doc_id long, text string"
    )
    out = lm_score_stream(docs, [0.0] * B, [0.0] * B, round_to=None)
    assert [r["doc_id"] for r in out.collect()] == [2]
