"""Text retrieval over the documents corpus: inverted-index statistics
and BM25-style ranked retrieval.

Both are training-data-pipeline staples: the index stats drive
stop-term/df-cap decisions (the same caps the dedup tier uses), and
ranked retrieval is how a curation pipeline pulls topical slices out of
a 100 TB corpus (e.g. "most code-like documents for this term set").

Determinism doctrine (matches plans/catalog.py): every score is built
from exact integer counts with a FIXED number of well-defined IEEE
double operations in a FIXED order, so results are bit-identical across
engines and partitionings.  BM25's ``ln`` is deliberately absent: libm
``log`` is not correctly-rounded and differs in the last ulp between
engines, so we rank by the RATIONAL idf core ``(N - df + 0.5) /
(df + 0.5)`` (the argument of BM25's log, Robertson-Sparck Jones
probabilistic idf).  ln is monotone, so single-term orderings are
identical to classic BM25; multi-term scores are a documented
deterministic variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share


def term_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The row-form inverted index: one (term, doc_id, tf) row per
    distinct term per document.  THIS is the at-scale representation —
    rows bucketed/partitioned by term, never per-term arrays (a posting
    ARRAY for a stop term is one corpus-sized allocation in one task).
    One explode + one map-side-combinable aggregate."""
    occ = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    return occ.groupBy("term", id_col).agg(F.count("*").alias("tf"))


def inverted_index_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_df_cap: int = 64,
) -> DataFrame:
    """Per-term index statistics plus materialized posting lists for
    RARE terms only: (term, df, total_tf, min_doc_id, max_doc_id,
    rare_posting_ids).

    ``rare_posting_ids`` (sorted asc) is non-null only when
    ``df <= rare_df_cap`` — so every materialized array is bounded by
    construction, and the hot/stop terms that would each need a
    corpus-sized array stay in row form (``term_frequencies``).  The
    stats themselves are pure aggregates: map-side combinable, no
    collect, no window, skew-irrelevant.

    The tf table feeds three consumers (stats, the rare-term filter,
    postings), which would otherwise re-scan the corpus per consumer
    (measured: 3 parquet scans in the un-checkpointed plan).  It is
    lineage-checkpointed instead: one corpus scan plus one
    materialization of the (term, doc, tf) table — which is the index
    being built, so its size IS the job's output scale, and every
    consumer reads the materialized form.
    """
    tf = share(term_frequencies(docs, text_col, id_col))
    stats = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.min(id_col).alias("min_doc_id"),
        F.max(id_col).alias("max_doc_id"),
    )
    rare_terms = stats.filter(F.col("df") <= rare_df_cap).select("term")
    rare_postings = (
        tf.join(rare_terms, "term")
        .groupBy("term")
        .agg(F.array_sort(F.collect_list(id_col)).alias("rare_posting_ids"))
    )
    return stats.join(rare_postings, "term", "left").select(
        "term", "df", "total_tf", "min_doc_id", "max_doc_id", "rare_posting_ids"
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 50,
    min_cosine: float = 0.0,
    shingle_n: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: every document pair sharing
    at least one df-capped term, scored by the cosine of their TF-IDF
    vectors — the classic bag-of-words near-match detector (catches
    topical/overlapping docs that exact shingle Jaccard under-scores).
    With ``shingle_n`` set, "terms" are word n-gram shingles instead of
    single words — the right unit when the vocabulary is tiny relative
    to the corpus (every word becomes a stop word).

    Weights: w(t, d) = tf * idf_r(t), with the rational idf
    ``(N - df + 0.5) / (df + 0.5)`` (ln-free for bit-portability, the
    BM25 entry's doctrine; idf_r is monotone in classic idf so rankings
    agree).  Determinism: norms and pair dot products are per-entity
    folds over TERM-SORTED arrays (collect_list -> array_sort ->
    sequential fold), never a shuffle-ordered double aggregate.

    Scale shape: the tf table is computed once (checkpoint) and feeds
    stats, norms, and the pair join; terms with df > ``max_df`` are
    dropped BEFORE pair generation (the jaccard_pairs cap — stop-term
    postings are the quadratic skew tail and carry ~no signal, and
    their idf_r is ~0 anyway), bounding per-term fan-out at max_df^2/2
    forever; pairs meet only through shared terms (term-keyed
    equi-join), never all-pairs.

    Output: (doc_a, doc_b, n_shared_terms, cos_sim), cos_sim >=
    ``min_cosine``.
    """
    if shingle_n is None:
        tf = term_frequencies(docs, text_col, id_col)
    else:
        from fotmobdatapipeline_spark.operators.dedup import word_shingles

        occ = docs.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("term"),
        )
        tf = occ.groupBy("term", id_col).agg(F.count("*").alias("tf"))
    tf = share(tf)
    # Bounded driver scalar (one int), the kmeans-centroid pattern: N is
    # embedded in the idf literal; the checkpointed tf is reused.
    n_docs = tf.select(id_col).distinct().count()
    stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    weighted = (
        tf.join(stats.filter(F.col("df") <= max_df), "term")
        .select(
            "term",
            F.col(id_col),
            (F.col("tf").cast("double") * idf).alias("w"),
        )
        .transform(share)
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "w"))),
                lambda s: s["w"] * s["w"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    norms = weighted.groupBy(id_col).agg(norm.alias("nrm"))
    a = weighted.select(F.col(id_col).alias("doc_a"), "term", F.col("w").alias("wa"))
    b = weighted.select(F.col(id_col).alias("doc_b"), "term", F.col("w").alias("wb"))
    prods = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "term", (F.col("wa") * F.col("wb")).alias("p"))
    )
    dots = prods.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("int").alias("n_shared_terms"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "p"))),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("dp"),
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            (F.col("dp") / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(min_cosine))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25-variant ranked retrieval for a fixed query-term set:
    top-``k`` documents by summed per-term score

        idf_r(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len/avglen))

    with the rational idf ``idf_r = (N - df + 0.5) / (df + 0.5)`` (see
    module docstring for why there is no ln).

    Bit-determinism: N, df, tf, len are exact integers; avglen is ONE
    double division of exact integers; each per-term contribution is a
    fixed expression tree; and the final score adds the per-term columns
    in the FIXED order of ``query_terms`` — never a floating-point
    aggregation whose order the shuffle picks.  Per-term contributions
    land in columns via a conditional aggregate that sees at most one
    non-null row per (doc, term), so no double addition happens inside
    any aggregate.

    Plan shape: tf rows are filtered to the query terms immediately
    after the explode (vocab-row stream shrinks to |Q| terms before any
    shuffle); df and the corpus scalars ride a single-row cross join;
    the final top-k is a TakeOrderedAndProject, never a global sort.
    The query-filtered tf feeds two consumers (df_by_term and the score
    join) and doc_len two more (the corpus-scalar agg and the
    per-doc join) — both are lineage-checkpointed so the corpus is
    scanned once per frame, not once per consumer (the
    ``inverted_index_stats`` pattern; tf post-filter is tiny — |Q|
    terms' postings — and doc_len is one int per doc).
    """
    tf = (
        term_frequencies(docs, text_col, id_col)
        .filter(F.col("term").isin(list(query_terms)))
        .transform(share)
    )
    doc_len = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl")
    ).transform(share)
    corpus = doc_len.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    # Broadcast bound: tf is pre-filtered to the query's terms, so
    # df_by_term has <= |query_terms| rows (query-cardinality, NOT the
    # Heaps-law corpus vocabulary) — the hint is safe at any corpus
    # size.  corpus is a 1-row scalar aggregate.
    df_by_term = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored_terms = (
        tf.join(F.broadcast(df_by_term), "term")
        .join(doc_len, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    avglen = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf_r = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avglen)
    )
    contrib = idf_r * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    per_term = scored_terms.select(
        F.col(id_col), F.col("term"), contrib.alias("contrib")
    )
    # One column per query term (each doc has <= 1 row per term, so the
    # max() sees a single value — no FP summation inside the aggregate),
    # then a fixed-order sequential addition.
    agg_cols = [
        F.max(F.when(F.col("term") == t, F.col("contrib"))).alias(f"__c{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = per_term.groupBy(id_col).agg(*agg_cols)
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        score = score + F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
    return (
        per_doc.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def bm25_topk_wide(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """WIDE-query BM25: same scoring model as :func:`bm25_topk` but the
    per-doc score is a sequential fold over the doc's matched-term
    contributions sorted BY TERM — the plan width no longer grows with
    |Q| (bm25_topk builds one column per term, quadratic-ish plan size
    past ~20 terms; this form handles 100-term queries at one extra
    per-doc sort of <= |Q| tiny elements).

    Determinism contract: contributions are collected per doc, sorted
    by term (collect_list -> array_sort on (term, contrib) structs —
    term is unique per doc, so the sort is total), and summed by the
    sequential ``F.aggregate`` fold from 0.0 — a FIXED, engine-
    replayable addition order (the oracle's ``list(contrib ORDER BY
    term)`` + ``list_reduce`` is the same sequence; 0.0 + c == c
    exactly for the strictly-positive contributions, so the differing
    init conventions agree bit-for-bit).  Same checkpointed one-scan
    shape and TakeOrderedAndProject top-k as bm25_topk.

    Output: (doc_id, n_matched, score)."""
    tf = (
        term_frequencies(docs, text_col, id_col)
        .filter(F.col("term").isin(list(query_terms)))
        .transform(share)
    )
    doc_len = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).alias("dl")
    ).transform(share)
    corpus = doc_len.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    df_by_term = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored_terms = (
        tf.join(F.broadcast(df_by_term), "term")
        .join(doc_len, id_col)
        .crossJoin(F.broadcast(corpus))
    )
    avglen = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    idf_r = (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl").cast("double") / avglen)
    )
    contrib = idf_r * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    per_term = scored_terms.select(
        F.col(id_col), F.col("term"), contrib.alias("contrib")
    )
    folded = per_term.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_matched"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                lambda s: s["contrib"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    return (
        folded.select(F.col(id_col), "n_matched", "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by TF-IDF
    weight — the classic summarization/labeling primitive (topic tags,
    index keys, slice descriptors for a curation UI).

    Weight w(t, d) = tf * idf_r(t) with the module's rational ln-free
    idf ``(N - df + 0.5) / (df + 0.5)`` (bit-portable; monotone in
    classic idf so the per-document ranking is identical).  Ties break
    on term ASC, so the selection is total and replayable.

    Scale shape: one corpus scan into the checkpointed (term, doc, tf)
    table (two consumers: df stats and the ranked projection); df is a
    map-side-combinable groupBy; the per-document top-k window
    partitions by DOCUMENT (bounded by document length — skew-safe, no
    global or per-term sort).  ``max_df`` optionally drops stop terms
    before ranking (their idf_r ~ 0 already ranks them last; the cap
    just avoids carrying them).

    Output: (doc_id, term, tf, w, rk), rk in 1..k.
    """
    from pyspark.sql import Window

    tf = share(term_frequencies(docs, text_col, id_col))
    n_docs = tf.select(id_col).distinct().count()
    stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        stats = stats.filter(F.col("df") <= max_df)
    idf = (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    weighted = tf.join(stats, "term").select(
        F.col(id_col), "term", "tf", (F.col("tf").cast("double") * idf).alias("w")
    )
    win = Window.partitionBy(id_col).orderBy(F.desc("w"), F.asc("term"))
    return (
        weighted.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "w", F.col("rk").cast("int").alias("rk"))
    )
