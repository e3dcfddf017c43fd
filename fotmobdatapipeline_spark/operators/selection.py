"""Data selection via hashed n-gram importance resampling (DSIR).

The public DSIR recipe (Xie et al., "Data Selection for Language Models
via Importance Resampling", NeurIPS 2023): score every raw document by
the log-likelihood ratio of a TARGET hashed-n-gram unigram model over a
RAW-corpus model, then keep the top of the ranking — the standard
classifier-free way to tilt a 100 TB crawl toward a quality target set.

Scale shape: both models are bucket-count tables of fixed size B
(buckets << corpus), built by one map-side-combining groupBy each; the
per-document scoring join is against a BROADCAST B-row ratio table, so
the raw corpus is never shuffled — the whole operator is two tiny
aggregates plus one map-only pass.

Determinism: the per-document sum of ``count * ln(ratio)`` terms is a
sequential fold over buckets in ascending bucket order (the repo's
standard collect-sort-fold recipe), so repeated Spark runs are
bit-identical regardless of shuffle order.  ``ln`` itself is NOT
bit-portable across engines (java.lang.Math.log vs libm disagree in the
last ulp on ~7% of inputs — measured), so cross-engine oracles compare
the weight ROUNDED to 4 decimals: with ≤ a few hundred terms the
accumulated cross-engine difference is ≤ ~1e-13, and the probability of
straddling a 1e-4 rounding boundary is ~1e-9 per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.functions.hof import bind_once
from fotmobdatapipeline_spark.lineage import share
from fotmobdatapipeline_spark.operators.sketches import hex32

DSIR_BUCKETS = 4096


def _bigrams(text: Column) -> Column:
    """Whitespace-token bigram OCCURRENCES (not distinct — DSIR counts
    every occurrence).  Token split bound once per row (hof.bind_once —
    unbound, the lambda would re-split per bigram)."""

    def body(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - 1)
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
        )
        # sequence(1, 0) would DESCEND, not be empty — guard sub-2-token
        # docs
        return F.when(F.size(t) >= 2, grams).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(F.split(text, " "), body)


def hashed_bigram_buckets(
    docs: DataFrame, text_col: str = "text", buckets: int = DSIR_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """(doc_id, bucket, cnt): per-document hashed-bigram bucket counts.
    Portable md5 hashing (the sketch family's convention) so an oracle
    reproduces bucket ids exactly."""
    h = hex32(F.md5(F.concat(F.lit(f"{salt}:"), F.col("g"))))
    return (
        docs.select("doc_id", F.explode(_bigrams(F.col(text_col))).alias("g"))
        .select("doc_id", (h % buckets).cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_bucket_counts(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """(bucket, ct, cs): corpus-level hashed-bigram bucket counts split
    by the target flag — the raw DSIR model state.  Counts are plain
    SUMS, so per-shard / per-micro-batch tables merge by bucket-wise
    addition into exactly the whole-corpus table (the property the
    streaming model-maintenance sink is built on).  One map-side-
    combining aggregate; output is <= B rows."""
    h = hex32(F.md5(F.concat(F.lit(f"{salt}:"), F.col("g"))))
    t = F.col("__t")
    return (
        docs.select(is_target.alias("__t"),
                    F.explode(_bigrams(F.col(text_col))).alias("g"))
        .select("__t", (h % buckets).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(t, F.lit(1)).otherwise(F.lit(0))).alias("ct"),
            F.sum(F.when(~t, F.lit(1)).otherwise(F.lit(0))).alias("cs"),
        )
    )


def dsir_ratio_from_counts(
    models: DataFrame, buckets: int = DSIR_BUCKETS, alpha: float = 1.0
) -> DataFrame:
    """(bucket, lnr) from a (bucket, ct, cs) model table — the smoothed
    log-likelihood ratio every scorer consumes.  Deterministic given the
    counts, so a stream-maintained model yields bit-identical ratios to
    a batch-trained one with the same counts."""
    totals = models.agg(F.sum("ct").alias("nt"), F.sum("cs").alias("ns"))
    a, b = float(alpha), float(buckets)
    return models.join(F.broadcast(totals)).select(
        "bucket",
        F.log(
            ((F.col("ct") + F.lit(a)) / (F.col("nt") + F.lit(a * b)))
            / ((F.col("cs") + F.lit(a)) / (F.col("ns") + F.lit(a * b)))
        ).alias("lnr"),
    )


def dsir_ratio_table(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Train the DSIR models: returns ``(per_doc, ratio)`` where
    ``per_doc`` is the pinned (doc_id, bucket, cnt, __t) bucket table
    and ``ratio`` the B-row (bucket, lnr) log-ratio table.  ``ratio`` is
    the deployable artifact — persist it once, broadcast it everywhere
    (batch scoring joins it; streaming scoring embeds it via
    :func:`dsir_score_expr`)."""
    # The target flag rides the explode and joins the groupBy KEY (it is
    # constant per doc_id, so groups are unchanged) — one corpus scan,
    # no join back onto docs.  Pinned: feeds the model build AND the
    # scoring pass, so tokenize/hash/shuffle runs once.
    h = hex32(F.md5(F.concat(F.lit("dsir:"), F.col("g"))))
    per_doc = (
        docs.select("doc_id", is_target.alias("__t"),
                    F.explode(_bigrams(F.col(text_col))).alias("g"))
        .select("doc_id", "__t", (h % buckets).cast("int").alias("bucket"))
        .groupBy("doc_id", "__t", "bucket")
        .agg(F.count("*").alias("cnt"))
        .transform(share)
    )
    # B-row model table feeds BOTH the totals agg and the ratio join —
    # pin it so the per_doc scan+shuffle runs once, not twice
    models = per_doc.groupBy("bucket").agg(
        F.sum(F.when(F.col("__t"), F.col("cnt")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~F.col("__t"), F.col("cnt")).otherwise(F.lit(0))).alias("cs"),
    ).transform(share)
    return per_doc, dsir_ratio_from_counts(models, buckets, alpha)


def dsir_logratio_weights(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
    alpha: float = 1.0,
    round_to: int | None = 4,
) -> DataFrame:
    """Per-RAW-document DSIR importance weight.

    ``is_target`` marks the target slice (the distribution to tilt
    toward); every other document is scored.  Output: (doc_id,
    n_bigrams, weight) where weight = Σ_b cnt_d(b) * ln(p_b / q_b) with
    add-``alpha``-smoothed bucket models p (target) and q (raw), folded
    in ascending-bucket order.  ``round_to`` quantizes the final weight
    (None keeps the raw double — see module docstring for why oracles
    need the quantized form).  Docs with < 2 tokens have no bigrams and
    therefore NO output row — resamplers treat them as weightless."""
    per_doc, ratio = dsir_ratio_table(docs, is_target, text_col, buckets, alpha)
    # raw docs only; broadcast the B-row ratio table; deterministic
    # ascending-bucket sequential fold of cnt * ln(ratio)
    scored = (
        per_doc.filter(~F.col("__t"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "cnt", "lnr"))
                    ),
                    lambda s: s["cnt"].cast("double") * s["lnr"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("w"),
        )
    )
    w = F.round(F.col("w"), round_to) if round_to is not None else F.col("w")
    return scored.select("doc_id", "n_bigrams", w.alias("weight"))


def dsir_score_expr(
    text: Column,
    lnr_by_bucket: list[float],
    salt: str = "dsir",
) -> tuple[Column, Column]:
    """Per-ROW scoring expression: (weight, n_bigrams) for one document
    against a trained ratio table embedded as an array literal (index =
    bucket, missing buckets 0.0 — an unseen bucket has ct=cs=0 so its
    smoothed ratio is nt-vs-ns only; pass the dense vector from
    :func:`dsir_ratio_vector`).

    Shape-for-shape the SAME float program as the batch fold — distinct
    buckets ascending, one ``cnt * lnr`` multiply per bucket, sequential
    adds from 0.0 — so a stream scored row-by-row is BIT-equal to the
    batch groupBy scoring of the same input.  Stateless: safe in any
    streaming output mode, no watermark, no shuffle.

    Each returned Column evaluates the bigram+hash scan once; when both
    are selected in ONE projection prefer :func:`dsir_score_struct`
    (single scan for both fields)."""
    s = dsir_score_struct(text, lnr_by_bucket, salt)
    return s["weight"], s["n_bigrams"]


def dsir_score_struct(
    text: Column,
    lnr_by_bucket: list[float],
    salt: str = "dsir",
) -> Column:
    """struct(weight, n_bigrams) form of :func:`dsir_score_expr` with
    the hashed-bigram array bound ONCE per row (hof.bind_once — the
    per-distinct-bucket count filter would otherwise re-run the
    tokenize+md5 scan once per distinct bucket).  Identical float
    program, bit-equal output."""
    buckets = len(lnr_by_bucket)
    arr = F.lit(lnr_by_bucket)
    h = lambda g: (  # noqa: E731
        hex32(F.md5(F.concat(F.lit(f"{salt}:"), g))) % buckets
    ).cast("int")

    def body(bk: Column) -> Column:
        dist = F.array_sort(F.array_distinct(bk))
        terms = F.transform(
            dist,
            lambda b: F.size(F.filter(bk, lambda x: x == b)).cast("double")
            * F.element_at(arr, b + 1),
        )
        w = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
        return F.struct(w.alias("weight"), F.size(bk).alias("n_bigrams"))

    return bind_once(F.transform(_bigrams(text), h), body)


def dsir_ratio_vector(
    ratio: DataFrame, buckets: int = DSIR_BUCKETS, default: float = 0.0
) -> list[float]:
    """Collect the B-row ratio table into the dense bucket-indexed
    vector :func:`dsir_score_expr` embeds.  Buckets absent from the
    table never occurred in training; ``default`` scores them (0.0 = "no
    evidence either way"; pass ln((ns+aB)/(nt+aB)) to apply the smoothed
    model's unseen-bucket ratio instead).  O(B) driver memory — the
    model, not the data."""
    vec = [float(default)] * buckets
    for r in ratio.collect():
        vec[int(r["bucket"])] = float(r["lnr"])
    return vec


def dsir_score_stream(
    stream: DataFrame,
    lnr_by_bucket: list[float],
    text_col: str = "text",
    round_to: int | None = 4,
) -> DataFrame:
    """Score a document STREAM against a trained DSIR model: the
    deploy-time half of the operator (train offline with
    :func:`dsir_ratio_table`, embed via :func:`dsir_ratio_vector`).
    Stateless map — works in append mode with no watermark and scales
    with the stream, and is bit-equal to the batch scorer on the same
    rows (round_to=None).  The score struct is materialized in its own
    projection so the tokenize+hash scan runs once per row even though
    two fields are read from it."""
    s = dsir_score_struct(F.col(text_col), lnr_by_bucket)
    staged = stream.withColumn("_ds", s)
    weight = F.col("_ds")["weight"]
    if round_to is not None:
        weight = F.round(weight, round_to)
    return (
        staged.select(
            "*",
            F.col("_ds")["n_bigrams"].alias("n_bigrams"),
            weight.alias("weight"),
        )
        .drop("_ds")
        .filter(F.col("n_bigrams") > 0)
    )


def bigram_lm_counts(
    ref_docs: DataFrame,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """Train the hashed-bigram conditional LM of :func:`bigram_lm_nll` —
    the CCNet-style fluency filter's model (Wenzek et al. 2020 train a
    KenLM on clean reference text and score the crawl by perplexity;
    here the LM is the same hashed-n-gram relaxation DSIR uses, so the
    model stays a pair of <=B-row broadcastable tables at any corpus
    size).

    Returns ``(uni, bi)``: bucket counts of bigram CONTEXTS (w1, salt
    'lmu') and of full bigrams (w1 w2, salt 'lmb') over the reference
    slice.  Both are one map-side-combining aggregate; both merge by
    bucket-wise addition (shard / micro-batch friendly, the DSIR model
    law)."""
    grams = ref_docs.select(F.explode(_bigrams(F.col(text_col))).alias("g"))
    hu = hex32(F.md5(F.concat(F.lit("lmu:"), F.split(F.col("g"), " ")[0])))
    hb = hex32(F.md5(F.concat(F.lit("lmb:"), F.col("g"))))
    pairs = grams.select(
        (hu % buckets).cast("int").alias("bu"),
        (hb % buckets).cast("int").alias("bb"),
    ).transform(share)
    uni = pairs.groupBy("bu").agg(F.count("*").alias("cu"))
    bi = pairs.groupBy("bb").agg(F.count("*").alias("cb"))
    return uni, bi


def bigram_lm_nll(
    docs: DataFrame,
    is_ref: Column,
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
    alpha: float = 1.0,
    round_to: int | None = 4,
) -> DataFrame:
    """Per-document mean negative log-likelihood under a hashed-bigram
    LM trained on the ``is_ref`` slice — the perplexity quality filter
    of the public crawl recipes (CCNet / RedPajama / Gopher all rank by
    reference-LM perplexity; lower = more fluent).  Scores every NON-ref
    document: nll_d = (1/n_d) * Σ_g -ln( (c_bi(g)+α) / (c_uni(w1)+α·B) ),
    add-α smoothing over the B-bucket hashed vocabulary.

    Scale shape: the model is two <=B-row broadcast tables
    (:func:`bigram_lm_counts`); scoring is one corpus scan — explode
    bigrams with both bucket hashes, per-(doc, bu, bb) count, two
    broadcast left joins, then the repo's ascending-key sequential fold
    so reruns are bit-identical under any shuffle order.  The raw
    corpus is never shuffled beyond its own per-doc count.  ``ln`` is
    not bit-portable across engines (module docstring), so oracles
    compare ``round_to=4``.

    Output: (doc_id, n_bigrams, nll); sub-2-token docs emit no row."""
    hu = hex32(F.md5(F.concat(F.lit("lmu:"), F.split(F.col("g"), " ")[0])))
    hb = hex32(F.md5(F.concat(F.lit("lmb:"), F.col("g"))))
    per_doc = (
        docs.select("doc_id", is_ref.alias("__r"),
                    F.explode(_bigrams(F.col(text_col))).alias("g"))
        .select(
            "doc_id", "__r",
            (hu % buckets).cast("int").alias("bu"),
            (hb % buckets).cast("int").alias("bb"),
        )
        .groupBy("doc_id", "__r", "bu", "bb")
        .agg(F.count("*").alias("cnt"))
        # No checkpoint on per_doc (r14, measured): persisting the
        # per-(doc, bucket) counts measured ~10% slower on
        # lm_perplexity_rank and llm_prep_pipeline_v3.  (The r14 note
        # claimed ReusedExchange dedups the three consumers; the r15
        # runtime audit showed it does NOT — the __r / NOT __r filters
        # push below the aggregate into the scans, so the subtrees
        # diverge and the corpus was decoded once per consumer.)
    )
    # ONE pass over the ref slice (r15): the model's unigram and bigram
    # tables are rollups of a joint per-(bu, bb) count — integer sums
    # regrouped, exactly equal to aggregating the ref slice twice —
    # so the ref corpus is decoded once, not twice.  The joint table is
    # model-sized (<= distinct observed (bu, bb) pairs); the lazy
    # checkpoint keeps its two rollup consumers from re-running the
    # ref-slice aggregate.  Corpus decodes for the whole scorer: 3 -> 2
    # (model pass + scoring pass).
    ref_joint = (
        per_doc.filter(F.col("__r"))
        .groupBy("bu", "bb")
        .agg(F.sum("cnt").alias("cj"))
        .transform(share)
    )
    uni = ref_joint.groupBy("bu").agg(F.sum("cj").alias("cu"))
    bi = ref_joint.groupBy("bb").agg(F.sum("cj").alias("cb"))
    a, b = float(alpha), float(buckets)
    term = -F.log(
        (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(a))
        / (F.coalesce(F.col("cu"), F.lit(0)).cast("double") + F.lit(a * b))
    )
    scored = (
        per_doc.filter(~F.col("__r"))
        .join(F.broadcast(uni), "bu", "left")
        .join(F.broadcast(bi), "bb", "left")
        .withColumn("lp", term)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bu", "bb", "cnt", "lp"))),
                    lambda s: s["cnt"].cast("double") * s["lp"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
        )
    )
    nll = F.col("s") / F.col("n_bigrams").cast("double")
    if round_to is not None:
        nll = F.round(nll, round_to)
    return scored.select("doc_id", "n_bigrams", nll.alias("nll"))


def lm_count_vectors(
    uni: DataFrame, bi: DataFrame, buckets: int = DSIR_BUCKETS
) -> tuple[list[float], list[float]]:
    """Collect the two <=B-row LM count tables into dense bucket-indexed
    vectors for :func:`lm_nll_struct` to embed (absent bucket = count 0,
    exactly the batch scorer's left-join coalesce).  Counts become
    DOUBLES here because that is the batch float program's first cast —
    exact for any count < 2^53.  O(B) driver memory — the model, never
    the data."""
    cu = [0.0] * buckets
    for r in uni.collect():
        cu[int(r["bu"])] = float(r["cu"])
    cb = [0.0] * buckets
    for r in bi.collect():
        cb[int(r["bb"])] = float(r["cb"])
    return cu, cb


def lm_nll_struct(
    text: Column,
    cu_by_bucket: list[float],
    cb_by_bucket: list[float],
    alpha: float = 1.0,
) -> Column:
    """struct(nll_raw, n_bigrams) for one document against an embedded
    hashed-bigram LM — the per-ROW form of :func:`bigram_lm_nll`'s
    scoring fold, shape-for-shape the SAME float program (distinct
    (bu, bb) pairs ascending, cnt * -ln((cb+α)/(cu+αB)) each, sequential
    adds from 0.0, one final divide), so a stream scored row-by-row is
    BIT-equal to the batch groupBy scorer on the same rows.  Stateless:
    append mode, no watermark, no shuffle.  The hashed pair array is
    bound once per row (hof.bind_once)."""
    buckets = len(cu_by_bucket)
    a = float(alpha)
    cu_arr = F.lit(cu_by_bucket)
    cb_arr = F.lit(cb_by_bucket)
    hu = lambda g: (  # noqa: E731
        hex32(F.md5(F.concat(F.lit("lmu:"), F.split(g, " ")[0]))) % buckets
    ).cast("int")
    hb = lambda g: (  # noqa: E731
        hex32(F.md5(F.concat(F.lit("lmb:"), g))) % buckets
    ).cast("int")

    def body(pk: Column) -> Column:
        dist = F.array_sort(F.array_distinct(pk))
        terms = F.transform(
            dist,
            lambda p: F.size(
                F.filter(
                    pk, lambda x: (x["bu"] == p["bu"]) & (x["bb"] == p["bb"])
                )
            ).cast("double")
            * -F.log(
                (F.element_at(cb_arr, p["bb"] + 1) + F.lit(a))
                / (F.element_at(cu_arr, p["bu"] + 1) + F.lit(a * buckets))
            ),
        )
        s = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
        n = F.size(pk)
        # Guard the divide: ANSI mode (on in Spark 4) raises
        # DIVIDE_BY_ZERO for a sub-2-token doc BEFORE any downstream
        # filter can drop it — in a stream that wedges the query
        # permanently (restart replays the same micro-batch).  NULL here
        # never escapes: lm_score_stream filters n_bigrams > 0.
        return F.struct(
            F.when(n > 0, s / n.cast("double")).alias("nll_raw"),
            n.alias("n_bigrams"),
        )

    pairs = F.transform(
        _bigrams(text), lambda g: F.struct(hu(g).alias("bu"), hb(g).alias("bb"))
    )
    return bind_once(pairs, body)


def lm_score_stream(
    stream: DataFrame,
    cu_by_bucket: list[float],
    cb_by_bucket: list[float],
    text_col: str = "text",
    alpha: float = 1.0,
    round_to: int | None = 4,
) -> DataFrame:
    """Score a document STREAM against a trained hashed-bigram LM — the
    deploy-time half of the perplexity filter (train offline with
    :func:`bigram_lm_counts`, embed via :func:`lm_count_vectors`).
    Stateless map, bit-equal to :func:`bigram_lm_nll` on the same rows
    (round_to=None); the score struct is materialized once so the
    tokenize+hash scan runs once per row."""
    s = lm_nll_struct(F.col(text_col), cu_by_bucket, cb_by_bucket, alpha)
    staged = stream.withColumn("_lm", s)
    nll = F.col("_lm")["nll_raw"]
    if round_to is not None:
        nll = F.round(nll, round_to)
    return (
        staged.select(
            "*",
            F.col("_lm")["n_bigrams"].alias("n_bigrams"),
            nll.alias("nll"),
        )
        .drop("_lm")
        .filter(F.col("n_bigrams") > 0)
    )
