"""Deduplication operators for large text corpora.

Four tiers, cheapest first — the standard LLM-training-data pipeline:
1. exact         — hash-groupBy on the raw text (one shuffle on a hash).
2. fingerprint   — md5 over a normalized sorted bag-of-words; catches
                   reorderings/whitespace variants.  Still one shuffle.
3. minhash LSH   — per-row signatures (no shuffle) → band buckets →
                   candidate pairs via bucket equi-join.  Sub-quadratic.
4. ngram Jaccard — exact set overlap on shingles; the verifier for LSH
                   candidates (quadratic only within candidates).

Portability/determinism: every hash is md5 over an explicit string —
identical hex in Spark and DuckDB — and min-hash signatures take the
lexicographic MIN of hex strings, so the DuckDB oracle can reproduce
signatures exactly.  All shingle/signature construction is per-row
higher-order-function work (JVM codegen, no UDF, no shuffle).

At 100 TB: stages shuffle only on (hash) / (band key) / (shingle), all
fine-grained keys with bounded group sizes; skewed shingles (very common
n-grams) are the exception — cap them with ``jaccard_pairs``'s
``max_df`` (drops stop-shingles before pair fan-out).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.functions.hof import bind_once
from fotmobdatapipeline_spark.lineage import share, truncate


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text, as an
    array<string>.  Per-row, codegen-only; the token split is bound once
    per row (functions/hof.py — an unbound lambda reference would re-run
    the split per shingle, O(tokens²)).

    Guarded for short docs: ``sequence(1, stop)`` with ``stop < 1``
    DESCENDS in Spark (1, 0, -1, ...) rather than returning empty, which
    would feed ``slice`` an illegal start of 0 — documents with fewer
    than ``n`` words must produce an empty shingle set instead."""

    def body(toks: Column) -> Column:
        n_shingles = F.size(toks) - F.lit(n - 1)
        gram = lambda i: F.array_join(F.slice(toks, i, n), " ")  # noqa: E731
        shingles = F.transform(
            F.sequence(F.lit(1), F.greatest(n_shingles, F.lit(1))), gram
        )
        return F.array_distinct(
            F.when(n_shingles >= 1, shingles).otherwise(
                F.array().cast("array<string>")
            )
        )

    return bind_once(F.split(text, " "), body)


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tier 1: one canonical row (min id) per identical text."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    ).select(id_col, "n_copies")


def fingerprint(text: Column) -> Column:
    """Tier 2: md5 of the sorted distinct bag of words — order- and
    duplicate-word-insensitive content fingerprint."""
    words = F.array_sort(F.array_distinct(F.split(text, " ")))
    return F.md5(F.array_join(words, " "))


def fingerprint_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_docs"))
        .select(id_col, "fp", "n_docs")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """k portable min-hash values per document.

    Hash family: one md5 per salt ``m`` ('<m>:' || shingle), split into
    four 32-bit hex chunks — hash j uses chunk j%4 of salt j//4, and the
    signature is the lexicographic MIN of that chunk over the document's
    distinct shingles.  This costs ceil(k/4) md5 calls per shingle
    instead of k (md5's 128 bits are independent, so chunks are
    independent hash functions; 32 bits keeps chance collisions
    negligible below ~50k shingles per doc).

    Plan shape: explode(shingles) → one projection computing each salt's
    md5 once → groupBy(doc) with k MIN aggregates.  Partial (map-side)
    aggregation reduces the shuffle to one row per (doc, partition) —
    at 100 TB this is the scalable form; per-row array_min variants
    recompute md5 k times inside interpreted lambdas.

    Documents with fewer than ``shingle_n`` words produce no shingles
    and are dropped (explode of an empty array).

    ``shingles`` (r15): a pre-computed exploded (id_col, s) frame —
    MUST be exactly ``df``'s shingle explode.  Lets a caller that also
    shingles the same corpus elsewhere (the recall report's exact-truth
    tier) tokenize ONCE and share the persisted frame (guide §2.4 /
    §8: one fingerprint pass feeding every decision).
    """
    n_salts = (num_hashes + 3) // 4
    sh = shingles if shingles is not None else df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
    )
    hashed = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{m}:"), F.col("s"))).alias(f"h{m}")
            for m in range(n_salts)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"h{j // 4}"), (j % 4) * 8 + 1, 8)).alias(f"sig_{j}")
        for j in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_band_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 1,
    max_band_df: int | None = None,
) -> DataFrame:
    """Tier 3: band the signature matrix; docs sharing any band key are
    candidate near-duplicates.  Output (doc_a, doc_b) distinct pairs.

    Shuffle is keyed on (band_id, band_key) — fine-grained; AQE splits
    skewed shuffle partitions, but splitting cannot bound the
    (m choose 2) pairs a boilerplate band key with m members
    materializes — at corpus scale a single hot band (an empty-doc
    signature, a shared template) makes the candidate stage quadratic.
    ``max_band_df`` drops (band_id, band_key) groups hotter than the cap
    BEFORE pair generation (the :func:`simhash_pairs` /
    :func:`jaccard_pairs` df-cap doctrine: a band shared by everyone is
    a stop pattern, not a dedup signal), bounding fan-out at
    max_band_df²/2 per band key at ANY corpus size.  The hot-band count
    is a map-side-combinable groupBy — never a per-key window, which
    would sort the hot band's rows in one task.
    """
    n_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat(
                    *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = signatures.select(F.col(id_col), F.explode(bands).alias("band")).select(
        F.col(id_col), F.col("band.band_id"), F.col("band.band_key")
    )
    if max_band_df is not None:
        # The cap adds a third consumer of the banded frame (the df
        # count, plus the two self-join sides) — checkpoint so the
        # upstream signature pipeline materializes once, not 3x (the
        # simhash_pairs shape; the frame is slim: id + band key).
        # Exclusion is an ANTI join against the HOT band set — one
        # row per over-cap (band_id, band_key), typically tiny and at
        # most rows/cap — hint-free, so AQE broadcasts it when small
        # (the common case) and falls back to a shuffled anti join on
        # a pathological corpus; joining the complementary COOL set
        # instead would shuffle a band-cardinality table.
        exploded = share(exploded)
        hot = (
            exploded.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("bdf"))
            .filter(F.col("bdf") > max_band_df)
            .select("band_id", "band_key")
        )
        exploded = exploded.join(hot, ["band_id", "band_key"], "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Tier 4: exact n-gram Jaccard for every shingle-sharing pair.
    Output (doc_a, doc_b, common, jaccard); only pairs with ≥1 shared
    shingle appear (others have jaccard 0 by definition).

    Plan shape: ONE shuffle of the exploded shingles (groupBy shingle →
    sorted posting list) + in-group pair generation + one pair-keyed
    aggregate.  A shingle self-join would shuffle the shingle strings
    twice (both join sides) and hash-probe long keys; the posting-list
    form moves each shingle once and emits pairs map-side.

    Very common shingles make quadratic postings — the skew tail that
    dominates at corpus scale.  ``max_df`` caps shingle document
    frequency: posting lists longer than ``max_df`` are dropped BEFORE
    pair generation, and per-doc sizes are recomputed over the surviving
    shingle universe, so the result is the exact Jaccard in the
    df-capped universe (stop-shingles carry no dedup signal; ~1000 is a
    sane cap at corpus scale).  This bounds per-shingle pair fan-out at
    max_df^2/2 regardless of corpus growth.  The capped-postings stage
    feeds both sizes and pairs; at 100 TB persist or stage-write it
    (operators/star.py pattern) instead of recomputing the lineage.

    The per-doc ``sizes`` joins carry NO broadcast hint: sizes has one
    row per document, so a mandatory broadcast OOMs at 10^9+ docs.  AQE
    picks broadcast from runtime sizes when the corpus is small and
    falls back to a shuffled equi-join when it isn't — same treatment
    as the RP verify pipeline (similarity.py) and ppjoin's verify side.
    """
    sizes, common = _shingle_pair_commons(
        df, text_col, id_col, shingle_n, max_df, shingles=shingles
    )
    return (
        common.join(sizes.withColumnsRenamed({id_col: "doc_a", "n_sh": "n_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({id_col: "doc_b", "n_sh": "n_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


def _shingle_pair_commons(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_df: int | None,
    shingles: DataFrame | None = None,
):
    """Shared core of the exact pair tier (jaccard_pairs /
    containment_pairs): ONE shuffle of the exploded shingles (groupBy
    shingle -> sorted posting list), map-side in-group pair generation,
    one pair-keyed aggregate.  Returns (sizes, common): per-doc shingle
    counts over the (optionally df-capped) shingle universe, and the
    per-pair shared-shingle counts.  ``shingles``: optional pre-computed
    (id_col, s) explode of the same corpus (see minhash_signatures)."""
    sh = shingles if shingles is not None else df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
    )
    if max_df is None:
        # Two consumers with DIFFERENT aggregation keys (sizes groups by
        # doc, postings by shingle), so exchange/stage reuse can never
        # cover the shared tokenize+explode — the r15 runtime audit of
        # dedup_ngram_jaccard's final adaptive plan showed the corpus
        # scanned and exploded twice (only the per-doc sizes broadcast
        # was reused).  One lazy checkpoint = one tokenize pass; at
        # 100 TB this trades ~3x-corpus executor-local blocks for a
        # second full decode of the text column (guide §8).  Local walls
        # at sf0.1 sit inside the noise band either way (A/B r15); the
        # win is the scan count.  The capped path below is different:
        # both consumers read the `kept` aggregate, runtime reuse fires
        # there (2 Reused nodes in its final adaptive plan), and
        # checkpointing it measured +40% (r14) — left alone.
        if shingles is None:
            sh = share(sh)
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        postings = (
            sh.groupBy("s")
            .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
            .filter(F.size("ids") > 1)
        )
    else:
        # NOTE (r14, measured): do NOT checkpoint kept despite its two
        # consumers — both live in ONE final plan, where Spark reuses
        # the posting-list aggregate's exchange (ReusedExchange), so a
        # persist of the fat id-arrays is pure overhead (+40% on
        # dedup_recall_report when tried).  Lazy-checkpoint dedup pays
        # only across SEPARATE actions (iterative rounds) or for
        # repartitionByRange's sampling pass, which exchange reuse
        # cannot cover.
        kept = (
            sh.groupBy("s")
            .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
            .filter(F.size("ids") <= max_df)
        )
        sizes = (
            kept.select(F.explode("ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_sh"))
        )
        postings = kept.filter(F.size("ids") > 1)
    # All ordered pairs (ids[i], ids[j]), i < j, from each posting list.
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    common = (
        postings.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    return sizes, common


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |A∩B| / |A| per ordered
    (contained, container) pair — Broder's containment coefficient:
    catches a small document quoted whole inside a large one, which
    symmetric Jaccard dilutes toward zero.  Same posting-list shape and
    ``max_df`` semantics as :func:`jaccard_pairs` (one shingle shuffle,
    map-side pair generation); each unordered pair emits both
    directions.  Output (contained, container, common, containment).

    Like :func:`jaccard_pairs`, the per-doc ``sizes`` join is hint-free
    (one row per document — a mandatory broadcast would OOM at corpus
    scale; AQE broadcasts only when runtime size allows)."""
    sizes, common = _shingle_pair_commons(df, text_col, id_col, shingle_n, max_df)
    directed = common.select(
        F.col("doc_a").alias("contained"), F.col("doc_b").alias("container"), "common"
    ).unionByName(
        common.select(
            F.col("doc_b").alias("contained"), F.col("doc_a").alias("container"), "common"
        )
    )
    return directed.join(
        sizes.withColumnsRenamed({id_col: "contained", "n_sh": "n_sh"}),
        "contained",
    ).select(
        "contained",
        "container",
        "common",
        (F.col("common").cast("double") / F.col("n_sh").cast("double")).alias(
            "containment"
        ),
    )


_RK_BASE = 257
_RK_MOD = 2_147_483_647  # 2^31 - 1: keeps every step far from int64 overflow


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS scheme): the distinct minima of every ``window`` consecutive
    k-char Rabin-Karp rolling hashes (Horner fold ``h = (h*B + code) mod
    M`` — exact integer arithmetic, reproducible in any engine).
    Guarantees: any shared substring of length >= k + window - 1 between
    two documents yields a shared fingerprint, while keeping only
    ~2/(window+1) of the hashes — a position-robust sketch for copy
    detection that bag-of-words fingerprints (``fingerprint``) can't
    provide.

    Implementation is a vectorized Arrow-batched ``mapInPandas``: the
    per-window Horner fold is k numpy passes over all windows at once.
    This is the documented exception to the no-Python rule — the
    equivalent nested higher-order-function expression evaluates
    interpreted per element (O(n*k) lambda dispatches per document) and
    measured ~100× slower; the sketch math itself has no relational
    form.  Map-side only: no shuffle until the (doc_id, fp) posting
    list meets a pair-join (same downstream as ``lsh_band_pairs``).

    Documents shorter than k + window - 1 chars emit no fingerprints.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField(id_col, LongType()), StructField("fp", LongType())]
    )
    base, mod, span = _RK_BASE, _RK_MOD, window

    def fingerprint_batches(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            out_ids: list = []
            out_fps: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                codes = np.array([ord(c) for c in text], dtype=np.int64)
                n_wins = codes.size - k + 1
                if n_wins <= 0:
                    continue
                h = np.zeros(n_wins, dtype=np.int64)
                for j in range(k):
                    h = (h * base + codes[j : j + n_wins]) % mod
                if h.size < span:
                    continue
                fps = np.unique(sliding_window_view(h, span).min(axis=1))
                out_ids.extend([did] * fps.size)
                out_fps.append(fps)
            fp_col = (
                np.concatenate(out_fps) if out_fps else np.array([], dtype=np.int64)
            )
            yield pd.DataFrame({id_col: out_ids, "fp": fp_col})

    return df.select(id_col, text_col).mapInPandas(fingerprint_batches, out_schema)


def _df_capped_fps(fps: DataFrame, max_df: int) -> DataFrame:
    """Drop fingerprints appearing in more than ``max_df`` docs, with
    the per-fp document frequency computed by a MAP-SIDE-COMBINABLE
    ``groupBy('fp').count()`` and semi-joined back — never a windowed
    ``count over partitionBy(fp)``, which would shuffle+sort a
    boilerplate fingerprint's entire posting into one task.  The
    surviving-fp set is distinct-fp sized and hint-free: AQE broadcasts
    it when small, splits skewed shuffle partitions when not.  Plan
    shape pinned in test_plan_shapes.py."""
    rare_fp = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    return fps.join(rare_fp, "fp")


def winnowing_copy_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    max_df: int = 50,
    tau: float = 0.5,
) -> DataFrame:
    """Copy-detection pairs on the winnowing sketch (the MOSS pairing
    step): documents sharing >= ``tau`` of the smaller side's
    fingerprints — the containment coefficient ``|fp_a ∩ fp_b| /
    min(|fp_a|, |fp_b|)`` — which catches PARTIAL copies (a paragraph
    lifted into a longer doc) that symmetric Jaccard dilutes away.

    Scale shape mirrors the prefix join: the fingerprint table is
    computed once (share — its mapInPandas pipeline must not
    run once per consumer), per-fingerprint df comes from a map-side-
    combinable ``groupBy('fp').count()`` (a windowed count over
    ``partitionBy(fp)`` would shuffle+sort a boilerplate fingerprint's
    entire posting into ONE task — the same hot-key trap the
    ``sentence_dedup`` first-occurrence aggregate avoids), and
    fingerprints in more than ``max_df`` docs are excluded from PAIR
    GENERATION — the df-capped semantics of
    ``jaccard_pairs(max_df=...)``, applied identically in the oracle,
    so the equi-join's per-key fan-out is bounded by max_df choose 2.
    The surviving-fp set joins back onto fps hint-free (distinct-fp
    sized; AQE broadcasts it when small, splits skewed shuffle
    partitions when not).  Containment is exact integer counts with one
    double division.

    Output: (doc_a, doc_b, shared_fp, containment), containment >= tau.
    """
    fps = share(winnowing_fingerprints(df, text_col, id_col, k, window))
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    # Both sides of the self-join below reference this subtree; a plain
    # DataFrame would re-run the df-cap join per side — share it so the
    # pair join reads one materialization.
    rare = share(_df_capped_fps(fps, max_df))
    a = rare.select(F.col(id_col).alias("doc_a"), "fp")
    b = rare.select(F.col(id_col).alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fp"))
    )
    n_a = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("n_a"))
    n_b = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("n_b"))
    containment = F.col("shared_fp").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    ).cast("double")
    return (
        shared.join(n_a, "doc_a")
        .join(n_b, "doc_b")
        .select(
            "doc_a", "doc_b", "shared_fp", containment.alias("containment")
        )
        .filter(F.col("containment") >= tau)
    )


def sentence_segments(text_col: str, words_per_sentence: int = 8):
    """The deterministic sentence segmenter shared by batch
    :func:`sentence_dedup` and the streaming twin
    (streaming/documents.py::sentence_dedup_stream): fixed
    non-overlapping word windows (this corpus has no punctuation; swap
    for a boundary split on a real crawl — all consumers are
    boundary-agnostic)."""
    w = words_per_sentence
    return bind_once(
        F.split(F.col(text_col), " "),
        lambda words: F.transform(
            F.sequence(F.lit(0), F.ceil(F.size(words) / F.lit(float(w))).cast("int") - 1),
            lambda i: F.array_join(F.slice(words, i * w + 1, w), " "),
        ),
    )


def sentence_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_sentence: int = 8,
) -> DataFrame:
    """Corpus-wide SENTENCE-level exact dedup (the C4 / RefinedWeb line
    dedup): keep only the FIRST occurrence of every sentence across the
    whole corpus — ordered by (doc id, position) — and rebuild each
    document from its surviving sentences.  Kills boilerplate (cookie
    banners, navigation, license headers) that document-level dedup
    can't touch because the surrounding text differs.

    Segmentation: this corpus has no punctuation/newlines, so a sentence
    is a fixed non-overlapping window of ``words_per_sentence`` words
    (the last one may be shorter); on a real crawl you'd split on
    newline/sentence boundaries instead — everything downstream of the
    segmenter is boundary-agnostic.

    Scale shape: first-occurrence is `groupBy(sentence).agg(min(struct
    (doc, pos)))` — map-side combinable, so a boilerplate sentence
    appearing in half the corpus collapses to one row per map task
    BEFORE the shuffle, and no per-sentence sort ever happens (a
    `row_number over partitionBy(sentence)` window would sort the hot
    sentence's billion rows in one task — the skew trap this shape
    avoids).  Then one equi-join on sentence (winner set is
    distinct-sentence sized; AQE splits skewed join keys) and one
    per-doc rebuild aggregate.  The exploded (doc, seg_idx, sentence)
    frame feeds THREE consumers (first-occurrence agg, winner join,
    per-doc sentence counts) — at 100 TB the corpus scan+explode is the
    dominant cost, so it is shared and materialized exactly
    once; ``n_sentences`` is derived from it as ``max(seg_idx) + 1``
    (posexplode indexes 0..n-1) instead of re-scanning the raw table.
    Three shuffles total, all combinable or skew-safe, ONE corpus scan
    (pinned in test_plan_shapes.py).

    Output: (doc_id, n_sentences, n_kept, text_dedup), one row per doc
    that kept at least one sentence.
    """
    exploded = df.select(
        F.col(id_col),
        F.posexplode(sentence_segments(text_col, words_per_sentence)).alias(
            "seg_idx", "sentence"
        ),
    ).transform(share)
    first = exploded.groupBy("sentence").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("first_at")
    )
    kept = (
        exploded.join(first, "sentence")
        .filter(F.struct(id_col, "seg_idx") == F.col("first_at"))
        .select(id_col, "seg_idx", "sentence")
    )
    counts = exploded.groupBy(id_col).agg(
        (F.max("seg_idx") + F.lit(1)).cast("int").alias("n_sentences")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "sentence"))),
                    lambda s: s["sentence"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .join(counts, id_col)
        .select(id_col, "n_sentences", "n_kept", "text_dedup")
    )


def intradoc_sentence_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_sentence: int = 8,
) -> DataFrame:
    """INTRA-document sentence dedup: drop repeated sentences WITHIN each
    document, keeping the first occurrence — the degenerate-repetition
    cleaner (a page that repeats its own boilerplate paragraph 40×)
    that complements the corpus-wide tier (:func:`sentence_dedup`
    dedups ACROSS documents; this never looks outside one doc, so a
    sentence legitimately shared by two docs survives in both).

    Scale shape: first-occurrence per (doc, sentence) is a map-side-
    combinable ``min(seg_idx)`` aggregate, and every shuffle key carries
    the doc id — no corpus-wide hot key can exist (the worst group is
    one document's copies of one sentence).  The exploded frame is
    checkpointed once for its three consumers (one corpus scan, same
    contract as sentence_dedup).

    Output: (doc_id, n_sentences, n_kept, text_intradoc), one row per
    input document (every doc keeps >= 1 sentence).
    """
    exploded = df.select(
        F.col(id_col),
        F.posexplode(sentence_segments(text_col, words_per_sentence)).alias(
            "seg_idx", "sentence"
        ),
    ).transform(share)
    first = exploded.groupBy(id_col, "sentence").agg(
        F.min("seg_idx").alias("seg_idx")
    )
    counts = exploded.groupBy(id_col).agg(
        (F.max("seg_idx") + F.lit(1)).cast("int").alias("n_sentences")
    )
    return (
        first.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "sentence"))),
                    lambda s: s["sentence"],
                ),
                " ",
            ).alias("text_intradoc"),
        )
        .join(counts, id_col)
        .select(id_col, "n_sentences", "n_kept", "text_intradoc")
    )


def sentence_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_sentence: int = 8,
    num_hashes: int = 4,
    shingle_n: int = 2,
) -> DataFrame:
    """FUZZY sentence-level dedup: :func:`sentence_dedup` with the exact
    sentence key replaced by the sentence's MinHash signature
    (:func:`minhash_signature_cols` — the same portable hash family as
    the document tier), so near-identical boilerplate that exact line
    dedup misses (a date, a view counter, one swapped word) collapses to
    one surviving occurrence.  Signature equality = all ``num_hashes``
    chunks agree — the rows_per_band=k LSH band: high precision,
    recall rising as sentence Jaccard -> 1.

    Sub-shingle sentences (< ``shingle_n`` words) have no signature and
    PASS THROUGH untouched — they carry too little content to
    fuzzy-match safely.

    Scale shape is sentence_dedup's: the exploded+signed frame is
    checkpointed once for its three consumers; first-occurrence per
    signature is the map-side-combinable ``min(struct(doc, pos))``
    aggregate (no per-signature window — a boilerplate signature in half
    the corpus collapses map-side); one winner equi-join on the
    signature; one per-doc rebuild.  Signing is per-row HOF work in the
    same projection as the explode — no extra pass.

    Output: (doc_id, n_sentences, n_kept, text_neardup), one row per doc
    that kept at least one sentence.
    """
    sig = minhash_sig_expr(F.col("sentence"), num_hashes, shingle_n)
    signed = (
        df.select(
            F.col(id_col),
            F.posexplode(sentence_segments(text_col, words_per_sentence)).alias(
                "seg_idx", "sentence"
            ),
        )
        .withColumn("sig", sig)
        .transform(share)
    )
    signable = signed.filter(F.col("sig") != "")
    first = signable.groupBy("sig").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("first_at")
    )
    kept = (
        signable.join(first, "sig")
        .filter(F.struct(id_col, "seg_idx") == F.col("first_at"))
        .select(id_col, "seg_idx", "sentence")
        .unionByName(
            signed.filter(F.col("sig") == "").select(id_col, "seg_idx", "sentence")
        )
    )
    counts = signed.groupBy(id_col).agg(
        (F.max("seg_idx") + F.lit(1)).cast("int").alias("n_sentences")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "sentence"))),
                    lambda s: s["sentence"],
                ),
                " ",
            ).alias("text_neardup"),
        )
        .join(counts, id_col)
        .select(id_col, "n_sentences", "n_kept", "text_neardup")
    )


def connected_dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 15,
) -> DataFrame:
    """Duplicate clusters from candidate pairs: connected components by
    iterative min-label propagation — every doc ends up labeled with the
    smallest doc id reachable through the pair graph, which is the
    canonical representative to keep.

    Algorithm: start with label(v) = min(v, min neighbor); each round,
    every vertex takes (a) the min of its neighbors' labels and (b) its
    label's own label (pointer jumping).  Neighbor propagation alone
    needs diameter rounds — LSH collision graphs grow long thin chains,
    so that's unbounded; the jumping step halves every chain per round,
    giving O(log n) convergence (the same doubling trick as
    large-star/small-star in the Google connected-components paper).
    Each round is two joins + an aggregate; ``truncate`` cuts
    the lineage so the plan doesn't grow with iterations — standard
    Spark iterative-algo hygiene.

    Output: (doc_id, cluster_id) for every doc that appears in a pair.
    Iterative + loop-terminated -> no SQL oracle; rows-only checked, with
    invariants pinned in tests.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .transform(truncate)
    )
    labels = edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("label")
    ).select(F.col("src").alias("v"), "label")

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.v)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # LAZY checkpoint (r14): the jump self-join below reads
        # ``propagated`` twice; without this the neighbor-min join is
        # duplicated into both sides and runs twice per round (2x
        # data-scale waste).  Lazy = plan truncated now, RDD computed
        # once inside the next job, no dedicated materialization job.
        # ``old`` (the round-start label) rides along so the convergence
        # check below is a FILTER over the freshly checkpointed frame —
        # r14 ran a full (new_labels x labels) join per round just to
        # count changes, a second data-scale pass per round (r15,
        # guide §2.4).  One extra bigint per row through the jump join
        # buys the join's removal.
        propagated = labels.join(
            neighbor_min, labels.v == neighbor_min.src, "left"
        ).select(
            "v",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        ).transform(share)
        # Pointer jumping: follow my label to ITS label (labels are vertex
        # ids, so every label resolves) — halves chain lengths per round.
        x, y = propagated.alias("x"), propagated.alias("y")
        new_labels = (
            x.join(y, F.col("x.label") == F.col("y.v"))
            .select(
                F.col("x.v").alias("v"),
                F.col("x.old").alias("old"),
                F.least(F.col("x.label"), F.col("y.label")).alias("label"),
            )
            .transform(truncate)
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("old")).limit(1).count()
        )
        labels = new_labels.select("v", "label")
        if changed == 0:
            break
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 16
) -> DataFrame:
    """SimHash over whitespace tokens (frequency-weighted): bit b of the
    signature is the sign of sum over tokens of (2*md5_bit_b(token) - 1).
    Portable: bits come from md5 hex nibbles, reproducible in SQL.

    Same scalable shape as minhash_signatures: explode tokens → ONE md5
    per token occurrence → groupBy(doc) with n_bits signed-sum aggregates
    (map-side combine shrinks the shuffle to one row per doc per
    partition).  Output: (id, simhash bit-string)."""
    toks = df.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    hashed = toks.select(F.col(id_col), F.md5("tok").alias("h"))
    aggs = []
    for b in range(n_bits):
        nibble_idx = b // 4 + 1  # 1-based position in the hex string
        bit_div = 2 ** (3 - (b % 4))  # hex nibble is big-endian bits
        val = F.conv(F.substring("h", nibble_idx, 1), 16, 10).cast("int")
        bit = F.floor(val / bit_div) % 2
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{b}"))
    sums = hashed.groupBy(id_col).agg(*aggs)
    sig = F.concat(
        *[
            F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(n_bits)
        ]
    )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def minhash_signature_cols(
    text: Column, num_hashes: int = 8, shingle_n: int = 3
) -> list[Column]:
    """Per-ROW minhash signature: the same hash family as
    :func:`minhash_signatures` (md5('<salt>:'||shingle) split into 32-bit
    hex chunks), but computed with HOFs inside one stateless projection.

    This is the STREAMING form — no explode, no shuffle, no state — for
    per-document signatures on an unbounded stream.  It recomputes the
    md5 per chunk (k calls vs k/4 in the batch form) inside interpreted
    lambdas, so for bulk batch signing prefer :func:`minhash_signatures`;
    per-microbatch document volumes amortize fine.

    Documents with fewer than ``shingle_n`` words have no shingles: every
    signature column is NULL (callers must route them around any
    signature-keyed dedup or all short docs would collide).
    """
    sh = word_shingles(text, shingle_n)

    # PySpark maps the lambda's own parameter list onto HOF arguments,
    # so bind loop variables via a factory, not default args.
    def chunk_of(salt: str, lo: int):
        return lambda s: F.substring(F.md5(F.concat(F.lit(salt), s)), lo, 8)

    cols = []
    for j in range(num_hashes):
        cols.append(
            F.array_min(F.transform(sh, chunk_of(f"{j // 4}:", (j % 4) * 8 + 1))).alias(
                f"sig_{j}"
            )
        )
    return cols


def minhash_sig_expr(
    text: Column, num_hashes: int = 8, shingle_n: int = 3
) -> Column:
    """Concatenated per-row minhash signature STRING — the key form
    every stream/sentence consumer uses (``concat_ws("", sigs...)``) —
    with the shingle array bound ONCE per row (hof.bind_once).  The
    separate-columns form (:func:`minhash_signature_cols`) re-evaluates
    the whole shingle build per signature column; this computes it once
    and folds all ``num_hashes`` mins over the bound value.  Same hash
    family, bit-identical signature text.

    Sub-shingle documents yield the EMPTY string (array_min of an empty
    array is NULL per chunk; concat_ws skips NULLs) — not a valid dedup
    key, same contract as the column form."""

    def chunk_of(salt: str, lo: int):
        return lambda s: F.substring(F.md5(F.concat(F.lit(salt), s)), lo, 8)

    def body(sh: Column) -> Column:
        return F.concat_ws(
            "",
            *[
                F.array_min(
                    F.transform(sh, chunk_of(f"{j // 4}:", (j % 4) * 8 + 1))
                )
                for j in range(num_hashes)
            ],
        )

    return bind_once(word_shingles(text, shingle_n), body)


def verified_lsh_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 1,
    max_band_df: int | None = None,
) -> DataFrame:
    """Tier 3c: the candidate->verify pipeline — LSH band candidates,
    then EXACT n-gram Jaccard computed only over documents that appear
    in some candidate pair.

    This is the standard two-stage near-dup design at corpus scale: the
    quadratic exact-Jaccard work is confined to the (tiny) candidate doc
    set; the full corpus is touched only by the linear signature pass.
    Candidate pairs that share no shingle at all (32-bit band-key
    collisions) drop out in the verify join — LSH false positives cost
    a lookup, never a wrong answer.

    The verify stage is PAIR-DRIVEN: each candidate pair fetches the
    two sides' PACKED distinct-shingle arrays by two equi-joins and
    counts the intersection per row (``array_intersect`` over two
    already-distinct arrays), so verify does |cands| join rows — linear
    in the (band-df-capped) candidate count at any corpus size — and
    the per-row intersection is hash-set O(|sh_a| + |sh_b|) inside
    codegen.  The r13 sf10 audit drove this shape through two wrong
    ones, both measured at 200k-doc/4.4M-candidate scale:
    (1) ``jaccard_pairs`` over the in-play doc SUBSET (131.7 s) —
    in-play docs grow linearly with the corpus, so hot shingles within
    the subset still produced df²/2 posting-list pairs the candidate
    join then threw away; (2) candidate ⋈ EXPLODED shingles on
    (doc, shingle) (141.7 s) — same join bytes as this form but
    Σ_pairs |sh_a| ≈ 250M shuffled rows plus a 250M-row pair-keyed
    aggregate, where this form shuffles the same bytes as 4.4M packed
    rows and aggregates nothing (see SCALE.md round 13 for the final
    measured wall).  ``cands`` and ``sets`` are lazily checkpointed:
    each feeds 2-3 plan branches, and recomputing the band join /
    shingle build per branch is pure waste at corpus scale
    (jaccard_pairs doc, same doctrine).
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes=num_hashes)
    cands = lsh_band_pairs(
        sigs, id_col, num_hashes=num_hashes, rows_per_band=rows_per_band,
        max_band_df=max_band_df,
    ).transform(share)
    in_play = (
        cands.select(F.col("doc_a").alias(id_col))
        .unionByName(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sets = (
        df.join(in_play, id_col, "left_semi")
        .select(F.col(id_col), word_shingles(F.col(text_col)).alias("sh"))
        .transform(share)
    )
    return (
        cands.join(
            sets.withColumnsRenamed({id_col: "doc_a", "sh": "sh_a"}), "doc_a"
        )
        .join(sets.withColumnsRenamed({id_col: "doc_b", "sh": "sh_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("common"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        )
        .filter(F.col("common") > 0)
        .select(
            "doc_a",
            "doc_b",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ANY
    word n-gram with the evaluation set (the overlap that inflates eval
    scores).  Asymmetric by design: the eval side is benchmark-sized
    (thousands of docs), so its distinct shingle set broadcasts, and the
    100 TB training side is flagged by a map-side broadcast semi-join —
    the corpus is never shuffled.

    Output: (id, is_contaminated) for every training document.

    ``train_shingles`` / ``eval_shingles`` (r15): pre-exploded
    (id_col, s) frames for each side — must be exactly that side's
    shingle explode.  Lets a plan that already maintains a shared
    shingle frame (plans/llmdata._shingles_shared) decode the corpus
    text once for both sides instead of once per side.
    """
    ev = (
        eval_shingles.select("s")
        if eval_shingles is not None
        else eval_df.select(
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
        )
    ).distinct()
    tr = train_shingles if train_shingles is not None else train.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
    )
    hits = tr.join(F.broadcast(ev), "s", "left_semi").select(id_col).distinct()
    flagged = hits.withColumn("is_contaminated", F.lit(True))
    return (
        train.select(id_col)
        .join(flagged, id_col, "left")
        .select(id_col, F.coalesce("is_contaminated", F.lit(False)).alias("is_contaminated"))
    )


def _word_grams_occurrences(text: Column, lengths: list[int]) -> Column:
    """ALL word n-gram occurrences (not distinct — blocklist hits are
    counted per occurrence) for every length in ``lengths``, flattened
    into one array.  The token split is bound once per row; one
    projection covers every gram length, so the corpus is scanned once
    no matter how many lengths the phrase table holds."""

    if not lengths:
        # flatten(array()) is ARRAY<VOID> and fails analysis — an empty
        # phrase table must mean zero grams, not a crash.
        return F.array().cast("array<string>")

    def body(toks: Column) -> Column:
        # NB: the per-gram lambda must be built by a FACTORY, not with a
        # `lambda i, n=n` default arg — F.transform treats a two-param
        # lambda as its (element, index) form and would bind the array
        # index to n.
        def gram_at(n: int):
            return lambda i: F.array_join(F.slice(toks, i + 1, n), " ")

        arrs = []
        for n in lengths:
            stop = F.size(toks) - F.lit(n)
            arr = F.when(
                stop >= 0,
                F.transform(F.sequence(F.lit(0), stop), gram_at(n)),
            ).otherwise(F.array().cast("array<string>"))
            arrs.append(arr)
        return F.flatten(F.array(*arrs))

    return bind_once(F.split(text, " "), body)


def blocklist_hits(
    df: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Multi-word blocklist matching — the C4-style banned-phrase filter
    (Raffel et al. 2020 drop any page containing a listed phrase), with
    the phrase list as a TABLE the way deployments ship it.

    Scale shape: the phrase table is model-sized (thousands of rows), so
    it broadcasts; the corpus side explodes every word n-gram occurrence
    for exactly the lengths the phrase table contains (one projection,
    one corpus scan regardless of how many lengths — never one pass per
    length) and meets the list through a map-side broadcast equi-join.
    The only driver-side step collects the DISTINCT phrase lengths
    (bounded by the longest phrase, not by the list or corpus).

    Output: (id, n_hits, n_phrases) per document with >=1 hit —
    occurrences and distinct phrases matched; callers anti-join to drop
    (the C4 policy) or threshold on n_hits."""
    lengths = sorted(
        r["L"]
        for r in phrases.select(
            F.size(F.split(F.col(phrase_col), " ")).alias("L")
        )
        .distinct()
        .collect()
    )
    grams = df.select(
        F.col(id_col),
        F.explode(_word_grams_occurrences(F.col(text_col), lengths)).alias("g"),
    )
    plist = phrases.select(F.col(phrase_col).alias("g")).distinct()
    return (
        grams.join(F.broadcast(plist), "g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("g").alias("n_phrases"),
        )
    )


def incremental_dedup_flags(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PRODUCTION-shape dedup: flag a NEW batch (today's crawl) against
    the EXISTING corpus without re-deduplicating history — per batch doc,
    whether its normalized bag-of-words fingerprint already exists in the
    corpus (``dup_of_corpus``) and whether an earlier batch doc shares it
    (``dup_within_batch``, first occurrence by id stays False).

    Scale shape: the corpus side reduces to DISTINCT fingerprints before
    the join (at steady state that set is precomputed and stored — the
    dedup index; here it is derived in one combinable aggregate), the
    batch joins it hint-free (AQE broadcasts a small index, shuffles a
    big one), and the within-batch flag is a combinable min-id aggregate
    joined back — no windows, nothing corpus-sized ever broadcast.

    Output: (doc_id, fp, dup_of_corpus, dup_within_batch).
    """
    corpus_fps = (
        corpus.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    )
    # bfp feeds the verdict join AND the first-in-batch aggregate;
    # runtime stage reuse does not cover the pair (r15 audit: 3 distinct
    # text decodes for the entry, 0 Reused), so without the checkpoint
    # every batch doc is fingerprinted twice.  The frame is (id, fp) —
    # no text — and batch-sized.
    bfp = batch.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    ).transform(share)
    first_in_batch = bfp.groupBy("fp").agg(F.min(id_col).alias("__first_id"))
    hits = corpus_fps.withColumn("__in_corpus", F.lit(True))
    return (
        bfp.join(hits, "fp", "left")
        .join(first_in_batch, "fp")
        .select(
            id_col,
            "fp",
            F.coalesce("__in_corpus", F.lit(False)).alias("dup_of_corpus"),
            (F.col(id_col) != F.col("__first_id")).alias("dup_within_batch"),
        )
    )


def contamination_matrix(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    shingle_n: int = 3,
    train_shingles: DataFrame | None = None,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Severity-graded decontamination report per corpus slice: for each
    ``group_col`` value (source/domain/dump), how many training docs
    overlap the eval set and HOW HARD — a boolean flag
    (:func:`decontaminate`) says "drop it"; curation needs to know which
    slices are systematically contaminated before choosing mixtures.

    Same asymmetric scale shape as :func:`decontaminate`: the
    benchmark-sized eval shingle set broadcasts, the training corpus is
    scanned once, filtered map-side by the broadcast semi-join, and only
    the surviving (doc, shared-shingle) rows reach the two combinable
    aggregates.  The corpus is never shuffled whole.

    Output: (group, n_docs, n_contaminated, total_shared, max_shared)
    where *_shared count distinct shared shingles per doc.  ``id_col``
    must be unique in ``train``: shared shingles are counted per id, so
    docs sharing an id would each be credited with all of them.
    """
    ev = (
        eval_shingles.select("s")
        if eval_shingles is not None
        else eval_df.select(
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
        )
    ).distinct()
    # The shingle side carries only (id, s) — group_col is functionally
    # dependent on the doc id, so grouping shared counts by id alone is
    # value-identical and lets a pre-exploded shared shingle frame
    # (which has no group column) serve this operator too (r15).  The
    # group label attaches on the per-doc join below, which reads only
    # (id, group) — no text decode.
    tr = train_shingles if train_shingles is not None else train.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
    )
    shared = (
        tr.join(F.broadcast(ev), "s", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )
    per_doc = (
        train.select(id_col, group_col)
        .join(shared.select(id_col, "n_shared"), id_col, "left")
        .select(
            group_col, F.coalesce("n_shared", F.lit(0)).alias("n_shared")
        )
    )
    return per_doc.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("n_shared") > 0).alias("n_contaminated"),
        F.sum("n_shared").alias("total_shared"),
        F.max("n_shared").alias("max_shared"),
    )


def _prefix_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_n: int,
    positional: bool = True,
) -> DataFrame:
    """Candidate generation for :func:`prefix_filter_pairs`: prefix
    filter + length filter (+ the PPJoin positional filter unless
    ``positional=False``).  Exposed separately so the pruning power of
    each filter can be measured (tests + SCALE.md ablation); returns the
    distinct ``(doc_a, doc_b)`` candidate set, a superset of all true
    threshold pairs."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s")
    )
    # Attach global df via a windowed count over the same single shuffle
    # (partition by shingle).  The earlier posting-list form
    # (groupBy(s).agg(collect_list(id)) then re-explode) had identical
    # semantics and shuffle count but materialized EVERY shingle's full
    # posting list — including stop-shingles appearing in millions of
    # docs — as one array in one task: an executor OOM at corpus scale.
    # The window keeps rows as rows; no per-shingle array ever exists.
    with_df = tok.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    ranked = with_df.withColumn(
        "pos", F.row_number().over(Window.partitionBy(id_col).orderBy("df", "s"))
    ).withColumn("n_sh", F.count("*").over(Window.partitionBy(id_col)))
    prefix_len = F.col("n_sh") - F.floor(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        id_col, "s", "df", "n_sh", "pos"
    )
    # Posting-list pair generation (jaccard_pairs shape): sort each
    # prefix-shingle's (doc, size, position) list by doc id and emit
    # ordered pairs in-list — prefix tokens are the RAREST tokens, so
    # these lists are short and the fan-out is small by construction.
    plist = (
        prefix.groupBy("s")
        .agg(
            F.first("df").alias("df"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("d"),
                        F.col("n_sh").alias("n"),
                        F.col("pos").alias("p"),
                    )
                )
            ).alias("ids"),
        )
        .filter(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda b: F.struct(
                    a["d"].alias("doc_a"),
                    a["n"].alias("n_a"),
                    a["p"].alias("pa"),
                    b["d"].alias("doc_b"),
                    b["n"].alias("n_b"),
                    b["p"].alias("pb"),
                ),
            ),
        )
    )
    eps = 1e-9
    cand_tok = (
        plist.select("df", "s", F.explode(pair_structs).alias("p"))
        .select("df", "s", "p.*")
        .filter(
            (F.col("n_b").cast("double") >= F.lit(threshold) * F.col("n_a") - eps)
            & (F.col("n_a").cast("double") >= F.lit(threshold) * F.col("n_b") - eps)
        )
    )
    if not positional:
        return cand_tok.select("doc_a", "doc_b").distinct()
    # POSITIONAL FILTER (PPJoin, Xiao et al. 2008): J(a,b) >= t needs
    # overlap o >= alpha = ceil(t/(1+t)·(|a|+|b|)).  Under the global
    # (df, s) token order, every shared token ordered before the k-th
    # shared PREFIX token is itself a shared prefix token (prefixes are
    # order-downward-closed), so at the k-th shared prefix token, at
    # positions (i, j) in a and b:  o <= k + min(|a| - i, |b| - j).
    # Take the tightest (min over k) and prune pairs whose bound can't
    # reach alpha — lossless, and it kills the template-corpus candidate
    # inflation the bare prefix filter admits (SCALE.md numbers).  The
    # per-pair aggregate replaces the plain .distinct() — same shuffle,
    # and the per-pair token array is at most prefix-length sized.
    # FP safety mirrors the length filter: alpha is computed minus eps so
    # a boundary pair is never pruned.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(eps)
    )
    grouped = cand_tok.groupBy("doc_a", "doc_b", "n_a", "n_b").agg(
        F.array_sort(F.collect_list(F.struct("df", "s", "pa", "pb"))).alias("toks")
    )
    bounds = F.transform(
        F.col("toks"),
        lambda tkn, k: k
        + F.lit(1)
        + F.least(F.col("n_a") - tkn["pa"], F.col("n_b") - tkn["pb"]),
    )
    return grouped.filter(F.array_min(bounds) >= alpha).select("doc_a", "doc_b")


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_n: int = 3,
    positional: bool = True,
    suffix: bool = True,
) -> DataFrame:
    """Tier 4c: threshold Jaccard join via PREFIX FILTERING (the
    SSJoin/PPJoin principle) — the exact-threshold scale path.

    If J(a, b) >= t then |a∩b| >= t·|a|, so under any fixed global token
    order a pair must share a token within each side's first
    ``|d| - ceil(t·|d|) + 1`` tokens.  Indexing ONLY those prefixes (rare
    tokens first, so prefixes hit the shortest posting lists) shrinks the
    joinable index by the factor the threshold buys — at t=0.9 only ~10%
    of each doc is indexed — while remaining LOSSLESS: candidates ⊇ all
    true pairs, then one exact verification confined to candidates.
    Unlike ``max_df`` capping this changes no semantics — output equals
    the naive all-pairs join at the same threshold (pinned by a
    cross-implementation test and by the oracle, which IS the naive
    quadratic form).

    On top of the prefix filter this implements the full PPJoin/PPJoin+
    pruning stack (Xiao et al., WWW 2008 — public algorithm, original
    implementation):

    * ``positional`` — the positional filter: per candidate pair, the
      shared-prefix-token positions upper-bound the achievable overlap
      (min over shared tokens of ``k + min(|a|-i_k, |b|-j_k)``); pairs
      that can't reach ``alpha = ceil(t/(1+t)·(|a|+|b|))`` are pruned
      BEFORE the verify stage ever re-shingles them.  This is the fix
      for the template-corpus candidate inflation the bare prefix filter
      admits (measured in SCALE.md).
    * ``suffix`` — the suffix filter's partition-bound, applied in the
      refine stage (where the token arrays exist, candidate-confined):
      a median-pivot partition of both sets upper-bounds the overlap and
      short-circuits the exact intersection for hopeless pairs.

    Both filters are LOSSLESS (flags exist only for the measured
    ablation — candidate generation is exposed as
    :func:`_prefix_candidates` so tests and SCALE.md can count the
    pruning); output is identical with any combination.

    FP safety: prefix length uses floor (a longer prefix is always
    lossless; ceil of ``t·n`` in doubles can round up and LOSE pairs) and
    the length filter carries an epsilon so ``|b| == t·|a|`` boundary
    pairs survive; both overlap bounds compare against an eps-lowered
    alpha so a boundary pair is never pruned.  Final jaccard >= t uses
    the same double division the oracle computes.

    Plan: one windowed count partitioned by shingle to attach df (no
    posting-list array is ever materialized, so a stop-shingle in half
    the corpus costs rows, not one giant task-local array), one per-doc
    window (partitioned by doc, never global), then — like
    :func:`jaccard_pairs` — candidate pairs are generated INSIDE the
    per-shingle posting lists (one groupBy; no self-join, so the ranked
    pipeline executes once), and the two verify joins are hint-free
    equi-joins: AQE broadcasts the candidate side when its runtime size
    allows (arrays scanned map-side, never shuffled) and falls back to a
    shuffled join under hot-shingle skew instead of OOMing a mandatory
    broadcast."""
    cand = _prefix_candidates(df, text_col, id_col, threshold, shingle_n, positional)
    # Materialize once: the candidate set is pair-count sized (tiny)
    # but its lineage is the whole prefix pipeline, and it feeds TWO
    # broadcast subtrees below — without the checkpoint each
    # broadcast re-executes the pipeline (same pattern as
    # connected_dup_clusters' iteration base).
    cand = share(cand)
    # Verify: shingle arrays are expensive (the dominant per-row cost),
    # so re-shingle ONLY candidate docs — the id join sits on the raw
    # table BELOW the shingle projection, so the corpus is scanned but
    # never re-shingled.  NO broadcast hint anywhere in the verify: on a
    # near-dup-heavy corpus the distinct candidate-id set approaches
    # corpus cardinality (a mandatory 8 B/row broadcast is still 8 GB at
    # 10^9 candidates), so AQE must pick broadcast vs shuffled equi-join
    # from runtime sizes — the jaccard_pairs/containment_pairs doctrine
    # (r8 VERDICT #1) applied to the id join and both pair joins alike.
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sets = df.join(cand_ids, id_col).select(
        F.col(id_col),
        # Sorted once per candidate DOC (amortized over its pairs) so the
        # suffix-style partition bound below can pick a median pivot.
        F.array_sort(word_shingles(F.col(text_col), shingle_n)).alias("sh_set"),
    )
    step1 = sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("sh_set").alias("sh_a"),
        F.size("sh_set").alias("n_a"),
    ).join(cand, "doc_a")
    paired = sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("sh_set").alias("sh_b"),
        F.size("sh_set").alias("n_b"),
    ).join(step1, "doc_b")
    # SUFFIX-FILTER role (PPJoin+, Xiao et al. 2008), re-homed for the
    # distributed formulation: the classic suffix filter probes the two
    # token ARRAYS, which in this pipeline only exist candidate-confined
    # — i.e. here, in the refine stage.  Partition both (sorted) sets at
    # a's median pivot m:  o <= min(|a<m|, |b<m|) + min(|a>m|, |b>m|) +
    # [m in b].  Rows whose bound can't reach alpha skip the full
    # array_intersect via a short-circuiting CASE — the bound costs two
    # cheap comparison scans of b vs the intersect's hash build of both.
    # Lossless under any total order; uses the same eps'd alpha as the
    # positional filter.
    alpha_v = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    if suffix:
        pivot = F.element_at(
            F.col("sh_a"), ((F.col("n_a") + 1) / 2).cast("int")
        )
        l_a = ((F.col("n_a") + 1) / 2).cast("int") - 1
        r_a = F.col("n_a") - l_a - 1
        lt_b = F.size(F.filter(F.col("sh_b"), lambda x: x < pivot))
        le_b = F.size(F.filter(F.col("sh_b"), lambda x: x <= pivot))
        o_ub = (
            F.least(l_a, lt_b)
            + F.least(r_a, F.col("n_b") - le_b)
            + (le_b - lt_b)
        )
        common = F.when(
            o_ub >= alpha_v, F.size(F.array_intersect("sh_a", "sh_b"))
        ).otherwise(F.lit(-1))
    else:
        common = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = paired.select(
        "doc_a", "doc_b", common.alias("common"), "n_a", "n_b"
    )
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    ).cast("double")
    return verified.select(
        "doc_a", "doc_b", "common", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _gram_hash_arr(text_col: str, gram_len: int) -> Column:
    """md5 hash of every word ``gram_len``-gram (all occurrences, in
    position order); empty array below ``gram_len`` words.  The token
    split is bound once per row (hof.bind_once — unbound it would re-run
    per gram)."""

    def body(words: Column) -> Column:
        n_words = F.size(words)
        gram_at = lambda i: F.md5(  # noqa: E731
            F.array_join(F.slice(words, i + 1, gram_len), " ")
        )
        return F.when(
            n_words >= gram_len,
            F.transform(F.sequence(F.lit(0), n_words - F.lit(gram_len)), gram_at),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(F.split(F.col(text_col), " "), body)


def _passage_base(
    df: DataFrame, text_col: str, id_col: str, gram_len: int
) -> DataFrame:
    """Checkpointed (doc, n_words, pos, ghash) gram-hash explosion —
    the shared scan of the passage-dedup family.  posexplode_outer
    keeps sub-gram_len documents in the frame (null gram row) so stats
    can cover every document without a second raw scan."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("n_words"),
        F.posexplode_outer(_gram_hash_arr(text_col, gram_len)).alias(
            "pos", "ghash"
        ),
    ).transform(share)


def _passage_stats(
    base: DataFrame, dup_keys: DataFrame, gram_len: int, id_col: str
) -> DataFrame:
    """Coverage + islands + per-doc stats over a checkpointed
    ``_passage_base`` frame, given the set of DUPLICATED gram hashes:
    the join-back fans out linearly per gram, positions covered by any
    duplicated window are merged into maximal runs by a DOC-partitioned
    window (bounded by document length), and every document appears in
    the output (zero stats when nothing is duplicated)."""
    from pyspark.sql import Window

    occ = base.filter(F.col("ghash").isNotNull())
    cover = (
        occ.join(dup_keys, "ghash")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(gram_len - 1))
            ).alias("j"),
        )
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("j")
    runs = cover.withColumn("run", F.col("j") - F.row_number().over(w))
    per_doc = runs.groupBy(id_col).agg(
        F.count("*").cast("int").alias("dup_words"),
        F.countDistinct("run").cast("int").alias("n_dup_spans"),
    )
    nw = base.groupBy(id_col).agg(F.max("n_words").alias("n_words"))
    return nw.join(per_doc, id_col, "left").select(
        F.col(id_col),
        "n_words",
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("dup_words", F.lit(0)).alias("dup_words"),
        (F.coalesce("dup_words", F.lit(0)).cast("double") / F.col("n_words")).alias(
            "dup_frac"
        ),
    )


def duplicate_passage_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 8,
) -> DataFrame:
    """EXACT duplicated-passage detection (the substring-dedup tier of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", relationalized): a word position is DUPLICATED when some
    ``gram_len``-word window covering it occurs 2+ times in the whole
    corpus (within- or cross-document), and per document we report how
    much of it is duplicated passage — the trim/drop signal document-
    and sentence-level dedup both miss (a lifted paragraph inside an
    otherwise-unique page).

    The suffix-array formulation of the paper is replaced by a pure
    dataflow one: k-gram hashes -> global occurrence counts (map-side
    combinable; a boilerplate gram collapses per map task) -> gram-keyed
    join back (fan-out linear in that gram's own positions) -> position
    coverage -> islands per document (window partitioned by DOC, bounded
    by document length — never by gram).  Gram keys are md5 hashes so
    the shuffle carries 32 chars instead of gram_len words.  The
    exploded (doc, n_words, pos, ghash) frame is checkpointed once for
    its consumers — ONE corpus scan (pinned in test_plan_shapes.py).

    Output: (doc_id, n_words, n_dup_spans, dup_words, dup_frac) —
    n_dup_spans maximal duplicated runs covering dup_words positions.
    """
    base = _passage_base(df, text_col, id_col, gram_len)
    occ = base.filter(F.col("ghash").isNotNull())
    dup = (
        occ.groupBy("ghash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("ghash")
    )
    return _passage_stats(base, dup, gram_len, id_col)


def incremental_passage_stats(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 8,
) -> DataFrame:
    """PRODUCTION-shape passage dedup (the per-crawl increment of
    :func:`duplicate_passage_stats`, same pattern as
    :func:`incremental_dedup_flags`): flag the NEW batch's duplicated
    passages against the EXISTING corpus without re-scanning history
    per batch doc — a batch gram is duplicated when it exists in the
    corpus gram INDEX at all, or occurs 2+ times within the batch
    itself.

    Scale shape: the corpus side reduces to DISTINCT gram hashes before
    anything else (at steady state that index is precomputed and stored,
    updated by appending each accepted batch's grams); the batch's
    checkpointed explosion joins the index + its own multi-occurrence
    set through one gram-keyed equi-join; coverage/islands/stats are
    the shared doc-partitioned machinery.  History is never
    re-deduplicated.

    Output: (doc_id, n_words, n_dup_spans, dup_words, dup_frac) per
    BATCH document.
    """
    base = _passage_base(batch, text_col, id_col, gram_len)
    occ = base.filter(F.col("ghash").isNotNull())
    corpus_idx = (
        corpus.select(
            F.explode(_gram_hash_arr(text_col, gram_len)).alias("ghash")
        )
        .distinct()
    )
    batch_multi = (
        occ.groupBy("ghash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("ghash")
    )
    dup = corpus_idx.unionByName(batch_multi).distinct()
    return _passage_stats(base, dup, gram_len, id_col)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_band_df: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the :func:`simhash_signatures`
    bit-string into ``n_bands`` equal slices, generate candidate pairs
    only between documents sharing a band (the Charikar/Manku
    multi-table trick), then verify with the EXACT Hamming distance —
    by pigeonhole, any pair within ``max_hamming <= n_bands - 1`` bit
    flips shares at least one identical band, so recall at the
    threshold is 100% and banding is purely a candidate pruner.

    Scale shape: the signature table is computed once (checkpoint; the
    band explode and the verify both read it), candidates meet through
    a (band_id, band_key)-keyed equi-join — never all-pairs — and the
    verify is fixed integer arithmetic over the two 16-char strings
    already riding the join (no third scan).  Band selectivity is
    2^-(n_bits/n_bands) per band: at corpus scale use 64-bit
    signatures with 16-bit bands (65 536 keys/band); ``max_band_df``
    optionally drops bands hotter than the cap before pair generation
    (the jaccard_pairs df-cap semantics — a band shared by half the
    corpus is a stop-pattern, not a dedup signal).

    Output: (doc_a, doc_b, hamming), hamming <= ``max_hamming``.
    """
    w = n_bits // n_bands
    sigs = share(simhash_signatures(df, text_col, id_col, n_bits))
    band_arr = F.array(
        *[F.substring("simhash", b * w + 1, w) for b in range(n_bands)]
    )
    bands = sigs.select(
        F.col(id_col), "simhash", F.posexplode(band_arr).alias("band_id", "band_key")
    )
    if max_band_df is not None:
        cool = (
            bands.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("bdf"))
            .filter(F.col("bdf") <= max_band_df)
            .select("band_id", "band_key")
        )
        bands = bands.join(cool, ["band_id", "band_key"])
    a = bands.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band_id", "band_key",
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"),
        "band_id", "band_key",
    )
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = sum(
        (F.substring("sig_a", i, 1) != F.substring("sig_b", i, 1)).cast("int")
        for i in range(1, n_bits + 1)
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix: how many exact-duplicate
    document PAIRS exist between every pair of sources — the curation
    report that answers "which feeds copy from each other" (mirror
    detection, syndication mapping, crawl-overlap budgeting).

    Pairs are NEVER materialized: with per-(fingerprint, source) counts
    n_{f,s}, the pair count between sources s<t is sum_f n_{f,s} *
    n_{f,t} and within s is sum_f C(n_{f,s}, 2) — so a fingerprint
    shared by a million documents contributes arithmetic on a
    #sources-sized row group, not 10^12 join rows.  Two map-side-
    combinable aggregates plus a fingerprint-keyed self-join whose
    per-key fan-out is bounded by #sources (a constant), never by
    corpus size.

    Output: (source_a, source_b, dup_pairs) with source_a <= source_b,
    dup_pairs >= 1.
    """
    counts = (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(source_col))
        .groupBy("fp", source_col)
        .agg(F.count("*").alias("n"))
    )
    a = counts.select(
        "fp", F.col(source_col).alias("source_a"), F.col("n").alias("na")
    )
    b = counts.select(
        "fp", F.col(source_col).alias("source_b"), F.col("n").alias("nb")
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                (F.col("na") * (F.col("na") - 1) / 2).cast("long"),
            )
            .otherwise(F.col("na") * F.col("nb"))
            .alias("p"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("p").alias("dup_pairs"))
        .filter(F.col("dup_pairs") >= 1)
    )


def duplicate_passage_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 8,
) -> DataFrame:
    """The span-level output of :func:`duplicate_passage_stats` — one
    row per maximal duplicated run with its word-position bounds, which
    is what a trimming pass actually consumes (cut [start, end] out of
    the document, keep the rest).  Same one-scan machinery; the islands
    window partitions by DOC.

    Output: (doc_id, span_start, span_end, span_len), word positions
    0-based inclusive.
    """
    from pyspark.sql import Window

    base = _passage_base(df, text_col, id_col, gram_len)
    occ = base.filter(F.col("ghash").isNotNull())
    dup = (
        occ.groupBy("ghash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("ghash")
    )
    cover = (
        occ.join(dup, "ghash")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(gram_len - 1))
            ).alias("j"),
        )
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("j")
    runs = cover.withColumn("run", F.col("j") - F.row_number().over(w))
    return runs.groupBy(id_col, "run").agg(
        F.min("j").cast("int").alias("span_start"),
        F.max("j").cast("int").alias("span_end"),
        (F.max("j") - F.min("j") + 1).cast("int").alias("span_len"),
    ).select(id_col, "span_start", "span_end", "span_len")


def trim_duplicate_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_len: int = 8,
) -> DataFrame:
    """APPLY the substring-dedup decision: rebuild every document with
    its duplicated passages (per :func:`duplicate_passage_stats`
    semantics) removed — the Lee et al. 2022 trim step, closing the
    detect -> trim loop.

    Plan shape: the gram pipeline runs once over the checkpointed
    explosion (as in the stats form); the per-doc covered-position SET
    is a doc-length-bounded sorted array joined back onto a second,
    column-pruned (id, text) scan — rebuilding needs the original words
    in order, and carrying the full word array through every gram row
    would multiply the checkpoint by the document length, so the
    deliberate shape is ONE gram scan + ONE narrow rebuild scan.  The
    per-word membership probe is array_contains over the doc's own
    covered set (quadratic in a single document's length — fine to a
    few thousand words; swap for a bitmap column beyond that).

    Output: (doc_id, n_words, n_kept, text_trimmed) for EVERY document
    (text_trimmed empty when everything was duplicated).
    """
    base = _passage_base(df, text_col, id_col, gram_len)
    occ = base.filter(F.col("ghash").isNotNull())
    dup = (
        occ.groupBy("ghash")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("ghash")
    )
    cover = (
        occ.join(dup, "ghash")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(gram_len - 1))
            ).alias("j"),
        )
        .distinct()
    )
    cov_arr = cover.groupBy(id_col).agg(
        F.array_sort(F.collect_list("j")).alias("cov")
    )
    words = F.split(F.col(text_col), " ")
    rebuilt = df.select(F.col(id_col), words.alias("w")).join(
        cov_arr, id_col, "left"
    )
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(F.col("w"), lambda x, i: ~F.array_contains(cov, i))
    return rebuilt.select(
        F.col(id_col),
        F.size("w").alias("n_words"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("text_trimmed"),
    )
