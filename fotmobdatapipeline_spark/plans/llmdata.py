"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — each with a value-exact DuckDB oracle.

These are first-class engine operators (BASELINE.json north star), not
reference ports.  The Spark implementations live in operators/dedup.py,
operators/similarity.py, functions/text.py; this module binds them to the
``documents`` / ``embeddings`` testdata and supplies oracle SQL that
reproduces the exact same values (portable md5 hashing, sequential
double folds, integer-ratio doubles — see plans/catalog.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.functions import text as T
from fotmobdatapipeline_spark.lineage import share, shared_frame, truncate
from fotmobdatapipeline_spark.operators import dedup as D
from fotmobdatapipeline_spark.operators import similarity as S
from fotmobdatapipeline_spark.plans.catalog import register
from fotmobdatapipeline_spark.plans.events import _DRIFT_BASELINE_DIR
from fotmobdatapipeline_spark.sources.registry import read_table

# Shared oracle fragments -------------------------------------------------

# DuckDB twin of operators/dedup.py::word_shingles (3-gram, distinct).
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))"
)
_SQL_TOK = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"

# DuckDB twin of operators/similarity.py::dot (sequential L→R fold; the
# missing initial element is exact because 0.0 + x == x).
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (p, q) -> p + q)"
    )


_KMV_K = 64


# DuckDB twin of a 32-bit hex prefix (sampling.shuffle_shard,
# sketches._bucket): sum of (nibble value) * 16^(7-i) over the first 8
# hex chars (no conv() in DuckDB — strpos arithmetic per the
# portable-hashing rule).
def _sql_hex32(col: str) -> str:
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )


# --------------------------------------------------------------------------
# Dedup tier 1: exact (hash-groupBy on text).
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str):
    return D.exact_dedup_groups(read_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Dedup tier 2: normalized bag-of-words fingerprint.
# --------------------------------------------------------------------------
@register(
    "dedup_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp
      FROM documents
    )
    SELECT MIN(doc_id) AS doc_id, fp, COUNT(*) AS n_docs
    FROM fp GROUP BY fp
    """,
    tags=("dedup", "fingerprint"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str):
    return D.fingerprint_dedup_groups(read_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Dedup tier 3a: portable MinHash signature matrix (8 hashes, 3-gram).
# --------------------------------------------------------------------------
_N_HASHES = 8


def _sql_sig(j: int) -> str:
    """DuckDB twin of operators/dedup.py::minhash_signatures' hash j:
    chunk j%4 (8 hex chars = 32 bits) of md5 salted with j//4."""
    salt, start = j // 4, (j % 4) * 8 + 1
    return (
        f"list_aggregate(list_transform({_SQL_SHINGLES}, "
        f"s -> substr(md5('{salt}:' || s), {start}, 8)), 'min') AS sig_{j}"
    )


_sig_exprs = ",\n           ".join(_sql_sig(j) for j in range(_N_HASHES))


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH tok AS ({_SQL_TOK})
    SELECT doc_id,
           {_sig_exprs}
    FROM tok
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str):
    return D.minhash_signatures(
        read_table(spark, sf_dir, "documents"), num_hashes=_N_HASHES
    )


# --------------------------------------------------------------------------
# Dedup tier 3b: LSH banding (4 bands x 1 row) → candidate pairs.
# --------------------------------------------------------------------------
_LSH_HASHES = 4
# Band-occupancy cap shared by every MinHash-LSH catalog entry: a
# (band_id, band_key) group hotter than this is a stop pattern (empty-doc
# signature, shared template) and is excluded BEFORE pair generation,
# bounding per-band fan-out at _LSH_BAND_DF^2/2 at any corpus size — the
# dedup_simhash_pairs recipe (27.9 s -> 3.2 s at sf0.1) applied to the
# sibling site VERDICT r5 flagged.  Mirrored between the Spark operator
# (lsh_band_pairs(max_band_df=...)) and this shared oracle fragment.
_LSH_BAND_DF = 50
_lsh_sigs = ",\n             ".join(_sql_sig(j) for j in range(_LSH_HASHES))

# Shared subtrees (VERDICT r5 #4: "share the band-pair subtree across
# the four CC entries"): seven entries consume the identical sigs ->
# capped-band-pairs subtree, four of them additionally the identical
# connected-components labels.  Each is a lineage.shared_frame —
# EXECUTOR-resident, never a driver collect (labels are corpus-sized;
# only the k-means/PQ trainer memo collects, because trained models are
# k x d values) — so within one application the subtree materializes
# once.  Entries whose OUTPUT is the shared frame (dedup_lsh_candidates)
# build it directly so their bench timing stays a cold measurement.
def _shingles_shared(spark: SparkSession, sf_dir: str):
    """ONE exploded (doc_id, shingle) frame per session, shared
    (r15, VERDICT r14 #5): the minhash/LSH side and the
    recall report's exact-Jaccard truth tier shingle the SAME corpus
    with the same n, but their downstreams aggregate differently
    (groupBy doc vs groupBy shingle), so ReusedExchange can never cover
    the duplicated tokenize+explode — without this the corpus is
    tokenized once per consumer.  At 100 TB the persisted frame is the
    guide-§8 fingerprint pass: ~3x corpus bytes of checkpoint blocks
    instead of a second full decode of the text column."""

    def build():
        from fotmobdatapipeline_spark.operators.dedup import word_shingles

        docs = read_table(spark, sf_dir, "documents")
        return share(docs.select(
            F.col("doc_id"), F.explode(word_shingles(F.col("text"), 3)).alias("s")
        ))

    return shared_frame(spark, (sf_dir, "shingles", 3), build)


def _lsh_pairs_shared(spark: SparkSession, sf_dir: str):
    def build():
        sigs = D.minhash_signatures(
            read_table(spark, sf_dir, "documents"), num_hashes=_LSH_HASHES,
            shingles=_shingles_shared(spark, sf_dir),
        )
        return share(D.lsh_band_pairs(
            sigs, num_hashes=_LSH_HASHES, rows_per_band=1,
            max_band_df=_LSH_BAND_DF,
        ))

    key = (sf_dir, "lsh_pairs", _LSH_HASHES, _LSH_BAND_DF)
    return shared_frame(spark, key, build)


def _dup_cluster_reps_shared(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.dedup import connected_dup_clusters

    # connected_dup_clusters truncates per round internally; the
    # returned labels frame is already lineage-truncated.
    key = (sf_dir, "cc_reps", _LSH_HASHES, _LSH_BAND_DF)
    return shared_frame(
        spark, key, lambda: connected_dup_clusters(_lsh_pairs_shared(spark, sf_dir))
    )


_lsh_bands_raw = "\n        UNION ALL ".join(
    f"SELECT doc_id, {j} AS band_id, sig_{j} AS band_key FROM sig" for j in range(_LSH_HASHES)
)
_lsh_bands = f"""
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bdf
        FROM ({_lsh_bands_raw})
      ) WHERE bdf <= {_LSH_BAND_DF}
    """


@register(
    "dedup_lsh_candidates",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_lsh_candidates(spark: SparkSession, sf_dir: str):
    sigs = D.minhash_signatures(
        read_table(spark, sf_dir, "documents"), num_hashes=_LSH_HASHES
    )
    return D.lsh_band_pairs(
        sigs, num_hashes=_LSH_HASHES, rows_per_band=1, max_band_df=_LSH_BAND_DF
    )


# --------------------------------------------------------------------------
# Dedup tier 4: exact n-gram Jaccard, top-20 most similar pairs.
# --------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           CAST(common AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
    tags=("dedup", "jaccard", "topk"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str):
    pairs = D.jaccard_pairs(read_table(spark, sf_dir, "documents"))
    return pairs.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(20)


# --------------------------------------------------------------------------
# Dedup tier 4b: df-capped Jaccard — the 100 TB form of the above.  Hot
# "stop shingles" (df > cap) are dropped before pair generation, which
# bounds per-shingle fan-out at cap^2/2; Jaccard is then exact in the
# reduced universe (sizes recomputed over surviving shingles).  The
# oracle reproduces the same universe with a df CTE.
# --------------------------------------------------------------------------
_JACCARD_CAP = 3


@register(
    "dedup_jaccard_capped",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
    kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfreq USING (s)
             WHERE df <= {_JACCARD_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           CAST(common AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
    tags=("dedup", "jaccard", "topk", "scale"),
    doc="df-capped Jaccard: bounded pair fan-out, exact in reduced universe.",
)
def dedup_jaccard_capped(spark: SparkSession, sf_dir: str):
    pairs = D.jaccard_pairs(read_table(spark, sf_dir, "documents"), max_df=_JACCARD_CAP)
    return pairs.orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(20)


# --------------------------------------------------------------------------
# Dedup tier 2b: SimHash signatures (frequency-weighted md5-bit votes).
# Oracle reproduces the nibble→bit arithmetic with strpos math.
# --------------------------------------------------------------------------
_SIMHASH_BITS = 16


def _sql_simhash_bit(b: int) -> str:
    ni, div = b // 4 + 1, 2 ** (3 - (b % 4))
    return (
        f"SUM(CASE WHEN (strpos('0123456789abcdef', substr(h, {ni}, 1)) - 1)"
        f" // {div} % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
    )


_simhash_sums = ",\n             ".join(_sql_simhash_bit(b) for b in range(_SIMHASH_BITS))
_simhash_concat = " || ".join(
    f"(CASE WHEN b{b} > 0 THEN '1' ELSE '0' END)" for b in range(_SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tk AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, md5(tok) AS h FROM tk),
    s AS (SELECT doc_id,
             {_simhash_sums}
          FROM h GROUP BY doc_id)
    SELECT doc_id, {_simhash_concat} AS simhash FROM s
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str):
    return D.simhash_signatures(
        read_table(spark, sf_dir, "documents"), n_bits=_SIMHASH_BITS
    )


# --------------------------------------------------------------------------
# Dedup tier 3c: LSH candidate pairs -> duplicate clusters.  Spark runs
# iterative min-label propagation with pointer jumping (O(log n) rounds);
# the oracle reaches the same fixpoint non-iteratively — a recursive-CTE
# transitive closure, then MIN over each vertex's reachable set.  Both
# compute "smallest doc id in my connected component", so the compare is
# value-exact despite the radically different algorithms.
# --------------------------------------------------------------------------
@register(
    "dedup_lsh_clusters",
    oracle=f"""
    WITH RECURSIVE tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    )
    SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v
    """,
    tags=("dedup", "lsh", "iterative"),
    doc="Duplicate clusters: iterative components vs closure oracle.",
)
def dedup_lsh_clusters(spark: SparkSession, sf_dir: str):
    return _dup_cluster_reps_shared(spark, sf_dir)


# --------------------------------------------------------------------------
# Dedup tier 2c: winnowing fingerprints (rolling-hash sketch, MOSS
# scheme).  Exact integer Rabin-Karp arithmetic — bit-identical in SQL.
# --------------------------------------------------------------------------
_RK_K = 8
_RK_W = 4

# Shared CTE chain: exact Rabin-Karp rolling hashes -> per-window minima
# -> distinct fingerprints per doc, ending in fps(doc_id, fp).  Used by
# the fingerprint entry and the copy-detection pair join on top of it.
_WINNOW_CTES = f"""c AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1))) AS codes
      FROM documents
    ),
    rh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(codes) - {_RK_K - 1}, 0) + 1),
               i -> list_reduce(
                      list_prepend(CAST(0 AS BIGINT), codes[i:i+{_RK_K - 1}]),
                      (x, y) -> (x * 257 + y) % 2147483647)) AS hs
      FROM c
    ),
    m AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hs) - {_RK_W - 1}, 0) + 1),
               i -> list_aggregate(hs[i:i+{_RK_W - 1}], 'min'))) AS fps
      FROM rh
    ),
    fps AS (SELECT doc_id, UNNEST(fps) AS fp FROM m)"""


@register(
    "dedup_winnowing",
    oracle=f"WITH {_WINNOW_CTES}\n    SELECT doc_id, fp FROM fps",
    tags=("dedup", "winnowing", "rolling-hash"),
    doc="Rolling-hash winnowing fingerprints (copy-detection sketch).",
)
def dedup_winnowing(spark: SparkSession, sf_dir: str):
    return D.winnowing_fingerprints(
        read_table(spark, sf_dir, "documents"), k=_RK_K, window=_RK_W
    )


_COPY_MAX_DF, _COPY_TAU = 50, 0.5


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH {_WINNOW_CTES},
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
              FROM fps GROUP BY doc_id),
    rare AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps
      ) WHERE df <= {_COPY_MAX_DF}
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fp
      FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT s.doc_a, s.doc_b, s.shared_fp,
           CAST(s.shared_fp AS DOUBLE)
             / CAST(least(na.n_fp, nb.n_fp) AS DOUBLE) AS containment
    FROM shared s
    JOIN sizes na ON s.doc_a = na.doc_id
    JOIN sizes nb ON s.doc_b = nb.doc_id
    WHERE CAST(s.shared_fp AS DOUBLE)
            / CAST(least(na.n_fp, nb.n_fp) AS DOUBLE) >= {_COPY_TAU}
    """,
    tags=("dedup", "winnowing", "containment"),
    doc="MOSS-style copy-detection pairs: fingerprint containment >= tau.",
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str):
    return D.winnowing_copy_pairs(
        read_table(spark, sf_dir, "documents"),
        k=_RK_K,
        window=_RK_W,
        max_df=_COPY_MAX_DF,
        tau=_COPY_TAU,
    )


# --------------------------------------------------------------------------
# Text analysis: corpus word counts (explode + top-k with document freq).
# --------------------------------------------------------------------------
@register(
    "text_word_counts",
    oracle="""
    SELECT tok AS word, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
    tags=("text", "explode", "topk"),
)
def text_word_counts(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Text analysis: quality scoring.
# --------------------------------------------------------------------------
@register(
    "text_quality",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len
      FROM documents
    )
    SELECT doc_id, n_words, stop_ratio, diversity, avg_word_len,
           CASE WHEN stop_ratio >= 0.05 AND diversity >= 0.5 THEN 'high'
                WHEN stop_ratio > 0.0 OR diversity >= 0.3 THEN 'medium'
                ELSE 'low' END AS band
    FROM q
    """,
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = F.split(t, " ")
    stop = T.stopword_ratio(t)
    div = T.distinct_word_ratio(t)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        stop.alias("stop_ratio"),
        div.alias("diversity"),
        T.avg_word_len(t).alias("avg_word_len"),
        T.quality_band(stop, div).alias("band"),
    )


# --------------------------------------------------------------------------
# Text analysis: language-ID heuristic.
# --------------------------------------------------------------------------
@register(
    "text_langid",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS INT) AS s_en,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ('el', 'la', 'de', 'los', 'y'))) AS INT) AS s_es,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ('der', 'die', 'das', 'und', 'zu'))) AS INT) AS s_de
      FROM documents
    )
    SELECT doc_id, lang, s_en, s_es, s_de,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_es > 0 THEN 'es'
                ELSE 'unknown' END AS pred_lang
    FROM s
    """,
    tags=("text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    scores = T.langid_scores(t)
    out = docs.select(
        "doc_id",
        "lang",
        scores["en"].alias("s_en"),
        scores["es"].alias("s_es"),
        scores["de"].alias("s_de"),
    )
    return out.withColumn(
        "pred_lang", T.langid_pred(F.col("s_en"), F.col("s_es"), F.col("s_de"))
    )


# --------------------------------------------------------------------------
# Text analysis: token counting (whitespace + regex token classes).
# --------------------------------------------------------------------------
@register(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(string_split_regex(text, '\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS alpha_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS num_tokens
    FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_stats(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        T.n_tokens(t).cast("int").alias("ws_tokens"),
        T.n_alpha_tokens(t).cast("int").alias("alpha_tokens"),
        T.n_numeric_tokens(t).cast("int").alias("num_tokens"),
    )


# --------------------------------------------------------------------------
# Text analysis: lexicon sentiment scoring (the corpus vocabulary is
# database-performance-themed, so the lexicon is too).
# --------------------------------------------------------------------------
_POS = ("fast", "small")
_NEG = ("slow", "big")


def _sql_lex_count(words: tuple) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter(string_split(text, ' '), x -> x IN ({lst}))) AS INT)"


@register(
    "text_sentiment",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             {_sql_lex_count(_POS)} AS n_pos,
             {_sql_lex_count(_NEG)} AS n_neg,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tok
      FROM documents
    )
    SELECT doc_id, n_pos, n_neg,
           CAST(n_pos - n_neg AS DOUBLE) / CAST(n_tok AS DOUBLE) AS score,
           CASE WHEN n_pos > n_neg THEN 'positive'
                WHEN n_neg > n_pos THEN 'negative'
                ELSE 'neutral' END AS label
    FROM s
    """,
    tags=("text", "sentiment"),
    doc="Lexicon sentiment: signed lexicon hits over token count.",
)
def text_sentiment(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def hits(words):
        lex = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda x: F.array_contains(lex, x)))

    n_pos, n_neg = hits(_POS), hits(_NEG)
    score = (n_pos - n_neg).cast("double") / F.size(toks).cast("double")
    label = (
        F.when(n_pos > n_neg, F.lit("positive"))
        .when(n_neg > n_pos, F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )
    return docs.select(
        "doc_id",
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        score.alias("score"),
        label.alias("label"),
    )


# --------------------------------------------------------------------------
# Entity resolution: fuzzy name matching — blocked self-join on the head
# noun + Levenshtein edit distance.  Blocking turns the all-pairs edit
# distance (quadratic in distinct names) into per-block work — the
# standard entity-dedup shape at scale.
# --------------------------------------------------------------------------
@register(
    "fuzzy_name_pairs",
    oracle="""
    WITH n AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("dedup", "fuzzy", "entity-resolution"),
    doc="Blocked Levenshtein name matching (entity dedup).",
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str):
    part = read_table(spark, sf_dir, "part")
    names = (
        part.select("p_name")
        .distinct()
        .withColumn("blk", F.split("p_name", " ").getItem(1))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    pairs = a.join(
        b, (F.col("blk_a") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b"))
    )
    dist = F.levenshtein("name_a", "name_b")
    return pairs.select(
        "name_a", "name_b", dist.cast("int").alias("dist")
    ).filter(F.col("dist") <= 3)


# --------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-5 for 10 query vectors.
# --------------------------------------------------------------------------
@register(
    "sim_bruteforce_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cos_sim
      FROM v q, v c
      WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
      FROM pairs
    ) WHERE rk <= 5
    """,
    tags=("similarity", "topk"),
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


# --------------------------------------------------------------------------
# Similarity search: sign-LSH bucket histogram (the ANN partitioning).
# --------------------------------------------------------------------------
_BUCKET_SQL = " || ".join(
    f"(CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END)" for i in range(1, 9)
)
# Bucket-occupancy cap for the sign-LSH PAIR-generating entries: with a
# fixed 2^n_bits key space, occupancy grows linearly with the corpus and
# in-bucket pair fan-out quadratically — the cap bounds it before pair
# generation (VERDICT r5 #1; the dedup_simhash_pairs recipe).  Mirrored
# between lsh_candidate_pairs(max_bucket_df=...) and each oracle's
# COUNT(*) OVER (PARTITION BY bucket) filter.
_LSH_BUCKET_DF = 50


@register(
    "sim_lsh_buckets",
    oracle=f"""
    WITH b AS (SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings)
    SELECT bucket, COUNT(*) AS n_vecs,
           MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
    FROM b GROUP BY bucket
    """,
    tags=("similarity", "lsh"),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str):
    return S.lsh_bucket_histogram(read_table(spark, sf_dir, "embeddings"), n_bits=8)


# --------------------------------------------------------------------------
# IVF with TRAINED centroids: k-means (Lloyd, deterministic seeds/ties)
# coarse quantizer -> cell assignment -> in-cell top-k.  Value-exact
# oracle: kmeans_lloyd's mean update is fixed-point (trunc(val*1e9) ->
# exact integer sum -> one double division, similarity.py:212), so the
# whole train is bit-reproducible and this SQL replays it unrolled —
# seeds = first k vectors, then per iteration a cross-join assignment
# (cosine via the shared sequential-fold dot, ties -> lowest cell) and a
# per-(cell, dim) HUGEINT mean, empty cells keeping the prior centroid —
# followed by the final assignment and in-cell top-k (same technique as
# the text_bpe_train unrolled-SQL oracle).  Dim is read from the data by
# _sql_dot; only the mean re-assembly hardcodes d=64 (testdata schema).
# --------------------------------------------------------------------------
def _kmeans_fin_ctes(k: int = 8, iters: int = 3, d: int = 64) -> list[str]:
    """The shared unrolled-k-means CTE chain: seeds -> ``iters`` rounds
    of (assignment, HUGEINT fixed-point mean, centroid update) -> the
    final n_probes=1 assignment as ``fin(vec_id, v, nrm, cell)``.  Both
    the IVF top-k and the SemDeDup oracle append their own final select
    over ``fin``."""
    qs = ", ".join(
        f"SUM(CAST(trunc(v[{j}] * 1000000000.0) AS HUGEINT))" for j in range(1, d + 1)
    )
    mean = (
        f"list_transform(range(1, {d + 1}), j -> "
        "CAST(m.qs[j] AS DOUBLE) / (CAST(m.n AS DOUBLE) * 1000000000.0))"
    )
    parts = [
        "WITH en AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
        f"sqrt({_sql_dot('embedding', 'embedding')}) AS nrm FROM embeddings),",
        f"s AS (SELECT vec_id, v FROM en ORDER BY vec_id LIMIT {k}),",
        "c0 AS (SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS cell, "
        f"v AS cv, sqrt({_sql_dot('v', 'v')}) AS cnorm FROM s),",
    ]
    for i in range(1, iters + 1):
        parts += [
            f"a{i} AS (SELECT vec_id, v, nrm, cell FROM ("
            "SELECT en.vec_id, en.v, en.nrm, c.cell, "
            "ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY "
            f"{_sql_dot('en.v', 'c.cv')} / (en.nrm * c.cnorm) DESC, c.cell ASC) AS rk "
            f"FROM en CROSS JOIN c{i - 1} c) WHERE rk = 1),",
            f"m{i} AS (SELECT cell, COUNT(*) AS n, [{qs}] AS qs FROM a{i} GROUP BY cell),",
            f"c{i} AS (SELECT cell, cv, sqrt({_sql_dot('cv', 'cv')}) AS cnorm FROM ("
            f"SELECT p.cell, CASE WHEN m.cell IS NULL THEN p.cv ELSE {mean} END AS cv "
            f"FROM c{i - 1} p LEFT JOIN m{i} m ON p.cell = m.cell)),",
        ]
    parts += [
        # Final n_probes=1 assignment under the trained centroids; queries
        # are a filter of the same table, so one assignment pass serves
        # both sides of the in-cell join.
        "fin AS (SELECT vec_id, v, nrm, cell FROM ("
        "SELECT en.vec_id, en.v, en.nrm, c.cell, "
        "ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY "
        f"{_sql_dot('en.v', 'c.cv')} / (en.nrm * c.cnorm) DESC, c.cell ASC) AS rk "
        f"FROM en CROSS JOIN c{iters} c) WHERE rk = 1)",
    ]
    return parts


def _ivf_kmeans_oracle(k: int = 8, iters: int = 3, d: int = 64) -> str:
    parts = _kmeans_fin_ctes(k, iters, d) + [
        "SELECT query_id, cell, neighbor_id, cos_sim, CAST(rk AS INT) AS rk FROM ("
        "SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id, "
        f"{_sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos_sim, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        f"{_sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rk "
        "FROM fin q JOIN fin c ON q.cell = c.cell "
        "AND q.vec_id < 10 AND q.vec_id <> c.vec_id) WHERE rk <= 5",
    ]
    return "\n".join(parts)


# Trained-model memos (VERDICT r5 #4): kmeans_lloyd and
# pq_train_codebooks are deterministic by construction (fixed seeds,
# fixed-point means), so their output for a given (sf_dir, params) is a
# VALUE — k×d / m×codes×sub_d floats — not a computation worth repeating.
# Five catalog entries train the same models (sim_ivf_kmeans_topk,
# dedup_semantic_clusters, sim_pq_adc_topk, sim_ivfpq_topk, and all
# three tiers nested inside sim_recall_report); each is a
# lineage.shared_frame that collects the tiny trained frame once per
# application and replays it as a local relation, cutting the parity
# suite's heaviest repeated subtree.
# Value-transparent: cold or warm, every consumer sees bit-identical
# centroids (the oracles replay the same fixed-point train).
def _trained(spark: SparkSession, sf_dir: str, key: tuple, train):
    def build():
        df = train(read_table(spark, sf_dir, "embeddings"))
        return spark.createDataFrame(df.collect(), df.schema)

    return shared_frame(spark, (sf_dir, *key), build)


def _trained_centroids(spark: SparkSession, sf_dir: str, k: int = 8,
                       iterations: int = 3):
    return _trained(spark, sf_dir, ("kmeans", k, iterations),
                    lambda emb: S.kmeans_lloyd(emb, k=k, iterations=iterations))


def _trained_codebooks(spark: SparkSession, sf_dir: str, dim: int, m: int,
                       codes: int, iterations: int):
    return _trained(spark, sf_dir, ("pq", dim, m, codes, iterations),
                    lambda emb: S.pq_train_codebooks(
                        emb, dim=dim, m=m, codes=codes, iterations=iterations))


@register(
    "sim_ivf_kmeans_topk",
    oracle=_ivf_kmeans_oracle(),
    tags=("similarity", "ivf", "kmeans"),
)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    return S.ivf_topk(emb.filter(F.col("vec_id") < 10), emb, centroids, k=5)


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data): for each query
# vector, the top-3 most-similar vectors with a DIFFERENT label —
# similar-but-not-same examples, the negatives that make contrastive /
# retrieval training work.  Cell-confined like every ANN tier here
# (candidates meet only inside a trained k-means cell — the production
# approximation; global hard negatives need multi-probe, the
# sim_ivf_multiprobe lever), trained centroids from the shared memo.
# --------------------------------------------------------------------------
def _hard_negatives_oracle(k: int = 8, iters: int = 3, d: int = 64) -> str:
    parts = _kmeans_fin_ctes(k, iters, d)
    parts[-1] += ","
    parts += [
        "lf AS (SELECT f.vec_id, f.v, f.nrm, f.cell, CAST(e.label AS INT) AS label "
        "FROM fin f JOIN embeddings e ON e.vec_id = f.vec_id)",
        "SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, "
        "CAST(rk AS INT) AS rk FROM ("
        "SELECT q.vec_id AS query_id, q.label AS query_label, "
        "c.vec_id AS neighbor_id, c.label AS neighbor_label, "
        f"{_sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos_sim, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        f"{_sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rk "
        "FROM lf q JOIN lf c ON q.cell = c.cell "
        "AND q.vec_id < 10 AND q.label <> c.label) WHERE rk <= 3",
    ]
    return "\n".join(parts)


@register(
    "sim_hard_negatives",
    oracle=_hard_negatives_oracle(),
    tags=("similarity", "ivf", "kmeans", "training-data", "contrastive"),
    doc="Top-3 most-similar DIFFERENT-label vectors per query (cell-confined).",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    assigned = (
        S.ivf_assign(emb, centroids)
        .join(labels, F.col("vid") == F.col("vec_id"))
        .select("vid", "vec", "nrm", "cell", "label")
        .transform(share)
    )
    q = assigned.filter(F.col("vid") < 10).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.col("label").alias("query_label"),
        "cell",
    )
    c = assigned.select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
        F.col("label").alias("neighbor_label"),
        "cell",
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            (
                S.dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "cos_sim", F.col("rk").cast("int").alias("rk"),
        )
    )


# --------------------------------------------------------------------------
# Stop-shingle discovery: the top-k shingles by document frequency with
# their corpus fractions — the report that SETS the df caps every
# bucketed dedup/similarity tier consumes (a shingle in >x% of docs
# carries no dedup signal and is the quadratic skew tail).  Pure
# combinable aggregates + one TakeOrderedAndProject.
# --------------------------------------------------------------------------
@register(
    "text_stopshingle_discovery",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    ex AS (SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS s FROM tok),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM ex),
    df AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s)
    SELECT s AS shingle, df, CAST(df AS DOUBLE) / n AS doc_frac
    FROM df CROSS JOIN nd
    ORDER BY df DESC, shingle ASC LIMIT 15
    """,
    tags=("text", "dedup", "profiling"),
    doc="Top-15 shingles by document frequency — the df-cap sizing report.",
)
def text_stopshingle_discovery(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), 3)).alias("s")
    ).transform(share)
    nd = ex.select("doc_id").distinct().agg(F.count("*").alias("n"))
    df = ex.groupBy("s").agg(F.count("*").alias("df"))
    return (
        df.crossJoin(F.broadcast(nd))
        .select(
            F.col("s").alias("shingle"),
            "df",
            (F.col("df").cast("double") / F.col("n")).alias("doc_frac"),
        )
        .orderBy(F.desc("df"), F.asc("shingle"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# MinHash calibration: estimated Jaccard (fraction of agreeing
# signature chunks, the unbiased MinHash estimator) NEXT TO the exact
# shingle Jaccard for the top-20 most-similar pairs — the entry that
# makes the sketch's error VISIBLE as data (est is k-quantized at
# k=8 chunks; exact is the truth the LSH tiers approximate).
# --------------------------------------------------------------------------
_cal_sig_match = " + ".join(
    f"(CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END)" for j in range(8)
)


@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    top AS (
      SELECT doc_a, doc_b,
             CAST(common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS exact_jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      ORDER BY exact_jaccard DESC, doc_a ASC, doc_b ASC
      LIMIT 20
    ),
    sig AS (
      SELECT doc_id,
             {_sig_exprs}
      FROM tok
    )
    SELECT t.doc_a, t.doc_b,
           CAST(({_cal_sig_match}) AS DOUBLE) / 8.0 AS est_jaccard,
           t.exact_jaccard
    FROM top t
    JOIN sig sa ON sa.doc_id = t.doc_a
    JOIN sig sb ON sb.doc_id = t.doc_b
    """,
    tags=("dedup", "minhash", "jaccard", "calibration"),
    doc="MinHash Jaccard estimate vs exact, side by side for the top-20 pairs.",
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    top = (
        D.jaccard_pairs(docs)
        .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
        .select("doc_a", "doc_b", F.col("jaccard").alias("exact_jaccard"))
    )
    sigs = share(D.minhash_signatures(docs, num_hashes=8))
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{j}").alias(f"a{j}") for j in range(8)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{j}").alias(f"b{j}") for j in range(8)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(8)
    )
    return (
        top.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(8.0)).alias("est_jaccard"),
            "exact_jaccard",
        )
    )


# --------------------------------------------------------------------------
# Fuzzy-dedup recall gate (VERDICT r5 #5): banded-LSH recall vs the
# EXACT n-gram Jaccard truth set, per Jaccard decile, at the catalog's
# own (bands, rows, band-df-cap) settings — the dedup twin of
# sim_recall_report, pricing the speed/recall trade as data.  The truth
# side is the labeled exact baseline (all shingle-sharing pairs) — at
# 100 TB this report runs on a sampled stratum, not the full corpus;
# the LSH side is the production candidate path, INCLUDING the hot-band
# cap, so a cap set too low shows up here as lost recall in the high-J
# bins.  The decile key floor(jaccard*10) is portable double math: both
# engines compute jaccard as the same CAST/CAST division, so the
# product and floor agree bit-for-bit.
#
# The truth side is df-CAPPED (VERDICT r6 #3): shingles with document
# frequency above _RECALL_TRUTH_CAP are dropped before pair generation,
# so even the audit itself has the max_df^2/2 fan-out bound and is
# 100x-safe.  Semantics: recall is measured against exact Jaccard IN
# THE CAPPED UNIVERSE — stop shingles (df > cap) carry no dedup signal,
# and the production LSH path excludes the same mass via its band cap,
# so the capped truth is the relevant denominator.  The cap is far
# above any test-sf df (no value change at sf<=0.1); it exists to bind
# at corpus scale.
# --------------------------------------------------------------------------
_RECALL_TRUTH_CAP = 1000

# Theoretical banded-LSH S-curve P(candidate | J=j) = 1 - (1-j)^b with
# b = _LSH_HASHES bands of 1 row, expanded as an explicit left-assoc
# factor product GENERATED from _LSH_HASHES on both sides (ADVICE r6:
# a hardcoded 4-factor literal would silently diverge from the curve if
# the band count changed) — no pow(), which libm implements differently.
_SQL_JMID = (
    "(CAST(1.0 AS DOUBLE) - (CAST(jbin AS DOUBLE) + CAST(0.5 AS DOUBLE))"
    " / CAST(10.0 AS DOUBLE))"
)
_SQL_P_THEORY = "CAST(1.0 AS DOUBLE) - (\n             " + "\n             * ".join(
    [_SQL_JMID] * _LSH_HASHES
) + "\n           )"
@register(
    "dedup_recall_report",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
    kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfreq USING (s)
             WHERE df <= {_RECALL_TRUTH_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b,
             CAST(common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS j
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    lab AS (
      SELECT CAST(FLOOR(t.j * 10) AS INT) AS jbin,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t
      LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT jbin, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall,
           {_SQL_P_THEORY} AS p_theory
    FROM lab GROUP BY jbin
    """,
    tags=("dedup", "lsh", "jaccard", "calibration", "recall"),
    doc="Banded-LSH recall vs exact Jaccard truth, per Jaccard decile.",
)
def dedup_recall_report(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    # Truth side df-capped: exact Jaccard in the capped shingle
    # universe (see the block comment above) — the audit's own fan-out
    # is bounded at _RECALL_TRUTH_CAP^2/2 per shingle at any sf.
    # r15: the truth tier reads the SAME shared shingle frame the LSH
    # side's signatures are built from — one tokenize pass per session
    # instead of one per side (VERDICT r14 #5).
    truth = D.jaccard_pairs(
        docs, max_df=_RECALL_TRUTH_CAP,
        shingles=_shingles_shared(spark, sf_dir),
    ).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j")
    )
    cand = _lsh_pairs_shared(spark, sf_dir).withColumn("hit", F.lit(1))
    lab = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        F.floor(F.col("j") * 10).cast("int").alias("jbin"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    # S-curve factor product generated from _LSH_HASHES — the same
    # left-assoc IEEE sequence as the oracle's _SQL_P_THEORY (observed
    # recall below theory flags the band cap biting; above theory
    # flags correlated shingles).
    jmid = (F.col("jbin").cast("double") + F.lit(0.5)) / F.lit(10.0)
    miss = F.lit(1.0) - jmid
    prod = miss
    for _ in range(_LSH_HASHES - 1):
        prod = prod * miss
    p_theory = F.lit(1.0) - prod
    return lab.groupBy("jbin").agg(
        F.count("*").alias("n_truth"),
        F.sum("hit").cast("long").alias("n_hit"),
        (F.sum("hit").cast("double") / F.count("*")).alias("recall"),
    ).withColumn("p_theory", p_theory)


# --------------------------------------------------------------------------
# The PRODUCTION form of the recall calibration: both the exact-Jaccard
# truth tier and the LSH candidate tier run on a deterministic ~3/16
# md5 doc-sample (md5 is the repo's cross-engine hash — bit-identical
# text in Spark and DuckDB).  Recall estimation needs statistical
# power, not the corpus: truth-tier pair volume scales with rate² per
# shingle (df_sample ≈ rate·df), so the 18.75% sample does ~3.5% of the
# full-corpus truth work — the r13 sf10 audit measured the full-corpus
# form at 81 s (31.7×, sublinear but heavy; see SCALE.md round 13), and
# this is the shape you'd actually schedule at 100 TB.  The sample is
# content-stable (hash of doc_id), so the reported curve is
# reproducible across engines, partitionings, and reruns.
# --------------------------------------------------------------------------
_SQL_TOK_SAMPLED = (
    "SELECT doc_id, string_split(text, ' ') AS t FROM documents "
    "WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')"
)


@register(
    "dedup_recall_sampled",
    oracle=f"""
    WITH tok AS ({_SQL_TOK_SAMPLED}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
    kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfreq USING (s)
             WHERE df <= {_RECALL_TRUTH_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b,
             CAST(common AS DOUBLE)
               / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS j
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    lab AS (
      SELECT CAST(FLOOR(t.j * 10) AS INT) AS jbin,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t
      LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT jbin, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall,
           {_SQL_P_THEORY} AS p_theory
    FROM lab GROUP BY jbin
    """,
    tags=("dedup", "lsh", "jaccard", "calibration", "recall", "sampling"),
    doc="LSH recall calibration on a deterministic md5 doc-sample (production form).",
)
def dedup_recall_sampled(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1", "2")
    )
    truth = D.jaccard_pairs(docs, max_df=_RECALL_TRUTH_CAP).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j")
    )
    sigs = D.minhash_signatures(docs, num_hashes=_LSH_HASHES)
    cand = D.lsh_band_pairs(
        sigs, num_hashes=_LSH_HASHES, rows_per_band=1, max_band_df=_LSH_BAND_DF
    ).withColumn("hit", F.lit(1))
    lab = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        F.floor(F.col("j") * 10).cast("int").alias("jbin"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    jmid = (F.col("jbin").cast("double") + F.lit(0.5)) / F.lit(10.0)
    miss = F.lit(1.0) - jmid
    prod = miss
    for _ in range(_LSH_HASHES - 1):
        prod = prod * miss
    p_theory = F.lit(1.0) - prod
    return lab.groupBy("jbin").agg(
        F.count("*").alias("n_truth"),
        F.sum("hit").cast("long").alias("n_hit"),
        (F.sum("hit").cast("double") / F.count("*")).alias("recall"),
    ).withColumn("p_theory", p_theory)


# --------------------------------------------------------------------------
# Asymmetric n-gram CONTAINMENT: |A∩B| / |A| per ordered (contained,
# container) pair — catches a small doc quoted whole inside a large one,
# which symmetric Jaccard dilutes toward 0 (the winnowing copy-pairs
# rationale at the shingle tier; Broder's containment coefficient).
# Same one-shuffle posting-list shape as jaccard_pairs; top-20 report.
# --------------------------------------------------------------------------
@register(
    "text_containment_pairs",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT doc_a AS contained, doc_b AS container, common FROM common
      UNION ALL
      SELECT doc_b, doc_a, common FROM common
    )
    SELECT d.contained, d.container, CAST(d.common AS BIGINT) AS common,
           CAST(d.common AS DOUBLE) / CAST(s.n_sh AS DOUBLE) AS containment
    FROM directed d JOIN sizes s ON s.doc_id = d.contained
    ORDER BY containment DESC, contained ASC, container ASC
    LIMIT 20
    """,
    tags=("dedup", "jaccard", "containment"),
    doc="Top-20 ordered pairs by n-gram containment |A∩B|/|A| (quote detection).",
)
def text_containment_pairs(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return (
        D.containment_pairs(docs)
        .select(
            "contained",
            "container",
            F.col("common").cast("long").alias("common"),
            "containment",
        )
        .orderBy(F.desc("containment"), F.asc("contained"), F.asc("container"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# The df-CAPPED containment report — the scale path for the entry above.
# The uncapped form is the lossless exact tier: every shingle's posting
# list emits df²/2 pairs, intrinsically quadratic in hot-shingle df (the
# r13 sf10 audit measured it at 141 s / 47.4× on 100× data).  Capping
# df bounds per-shingle fan-out at cap²/2 at ANY corpus size — the same
# `max_df` contract as jaccard_pairs: exact containment in the capped
# shingle universe, with per-doc sizes recomputed over surviving
# shingles (stop-shingles carry no quote-detection signal).
# --------------------------------------------------------------------------
_CONTAIN_DF_CAP = 50


@register(
    "text_containment_capped",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s),
    kept AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfreq USING (s)
             WHERE df <= {_CONTAIN_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    directed AS (
      SELECT doc_a AS contained, doc_b AS container, common FROM common
      UNION ALL
      SELECT doc_b, doc_a, common FROM common
    )
    SELECT d.contained, d.container, CAST(d.common AS BIGINT) AS common,
           CAST(d.common AS DOUBLE) / CAST(s.n_sh AS DOUBLE) AS containment
    FROM directed d JOIN sizes s ON s.doc_id = d.contained
    ORDER BY containment DESC, contained ASC, container ASC
    LIMIT 20
    """,
    tags=("dedup", "jaccard", "containment", "capped"),
    doc="Top-20 containment pairs in the df-capped shingle universe (scale path).",
)
def text_containment_capped(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return (
        D.containment_pairs(docs, max_df=_CONTAIN_DF_CAP)
        .select(
            "contained",
            "container",
            F.col("common").cast("long").alias("common"),
            "containment",
        )
        .orderBy(F.desc("containment"), F.asc("contained"), F.asc("container"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Hot-band observability: the top bands by occupancy with their df and
# the is_hot verdict vs the catalog cap — the report that SIZES
# _LSH_BAND_DF (the df-cap sizing twin of text_stopshingle_discovery).
# Always non-empty (top-10 regardless of hotness), so a corpus with no
# hot bands still shows the margin to the cap.
# --------------------------------------------------------------------------
@register(
    "dedup_lsh_hotband_report",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands_raw}
    ),
    df AS (
      SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS bdf
      FROM bands GROUP BY band_id, band_key
    )
    SELECT band_id, band_key, bdf, bdf > {_LSH_BAND_DF} AS is_hot
    FROM df
    ORDER BY bdf DESC, band_id ASC, band_key ASC
    LIMIT 10
    """,
    tags=("dedup", "lsh", "profiling", "audit"),
    doc="Top-10 LSH bands by occupancy with the is_hot verdict vs the cap.",
)
def dedup_lsh_hotband_report(spark: SparkSession, sf_dir: str):
    sigs = D.minhash_signatures(
        read_table(spark, sf_dir, "documents"), num_hashes=_LSH_HASHES
    )
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), F.col(f"sig_{b}").alias("band_key"))
            for b in range(_LSH_HASHES)
        ]
    )
    exploded = sigs.select(F.explode(bands).alias("b")).select(
        "b.band_id", "b.band_key"
    )
    return (
        exploded.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("bdf"))
        .select(
            "band_id",
            "band_key",
            "bdf",
            (F.col("bdf") > _LSH_BAND_DF).alias("is_hot"),
        )
        .orderBy(F.desc("bdf"), F.asc("band_id"), F.asc("band_key"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs (operators/retrieval.py): the classic
# bag-of-words near-match join — doc pairs meet only through shared
# df-capped shingle terms (term-keyed equi-join, never all-pairs);
# norms and pair dot products fold over TERM-SORTED arrays so the
# doubles are bit-stable; rational idf (ln-free).  Terms are 3-gram
# shingles: this corpus's word vocab (~30) is all stop words.
# --------------------------------------------------------------------------
@register(
    "sim_tfidf_pairs",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS term FROM tok
      ) GROUP BY doc_id, term
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    st AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    wt AS (
      SELECT tf.term, tf.doc_id,
             CAST(tf.tf AS DOUBLE)
               * ((CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) AS w
      FROM tf JOIN st USING (term) CROSS JOIN nd
      WHERE df <= 50
    ),
    nrm AS (
      SELECT doc_id,
             sqrt(list_reduce(list(w * w ORDER BY term), (a, b) -> a + b)) AS nrm
      FROM wt GROUP BY doc_id
    ),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.term AS term,
             a.w * b.w AS p
      FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
    ),
    dp AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS INT) AS n_shared_terms,
             list_reduce(list(p ORDER BY term), (a, b) -> a + b) AS dp
      FROM pr GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, n_shared_terms,
           dp / (na.nrm * nb.nrm) AS cos_sim
    FROM dp
    JOIN nrm na ON dp.doc_a = na.doc_id
    JOIN nrm nb ON dp.doc_b = nb.doc_id
    WHERE dp / (na.nrm * nb.nrm) >= CAST(0.0 AS DOUBLE)
    """,
    tags=("similarity", "tfidf", "dedup", "text"),
    doc="Sparse TF-IDF cosine pairs over df-capped shingle terms.",
)
def sim_tfidf_pairs(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        read_table(spark, sf_dir, "documents"), max_df=50, shingle_n=3
    )


# --------------------------------------------------------------------------
# Per-document LM plausibility under the corpus bigram model: the mean
# conditional probability of a doc's bigrams — the quality-filter
# signal a perplexity score gives, WITHOUT logs (ln isn't bit-portable;
# the arithmetic mean of exact-ratio probabilities is).  The exploded
# pair table feeds three consumers (both LM marginals and the per-doc
# score join) and is checkpointed: one corpus scan.  Per-doc summation
# folds in POSITION order over the doc's own array — never a
# shuffle-ordered double aggregate.
# --------------------------------------------------------------------------
@register(
    "text_bigram_surprise",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pairs AS (
      SELECT doc_id, b.pos AS pos, b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT doc_id, UNNEST(list_transform(range(1, len(t)),
                      i -> {'pos': i, 'w1': t[i], 'w2': t[i+1]})) AS b
        FROM tok
      )
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS pc FROM pairs GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS lc FROM pairs GROUP BY w1),
    sp AS (
      SELECT p.doc_id, p.pos, CAST(c12.pc AS DOUBLE) / c1.lc AS pr
      FROM pairs p
      JOIN c12 ON p.w1 = c12.w1 AND p.w2 = c12.w2
      JOIN c1 ON p.w1 = c1.w1
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             list_reduce(list(pr ORDER BY pos), (a, b) -> a + b) AS s
      FROM sp GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS INT) AS n_bigrams,
           s / n_bigrams AS avg_cond_prob
    FROM agg
    """,
    tags=("text", "ngram", "lm", "quality", "llmdata"),
    doc="Mean bigram conditional probability per doc (ln-free LM plausibility).",
)
def text_bigram_surprise(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    pairs = (
        tok.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w1", "w2")
        .transform(share)
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("pc"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("lc"))
    # LM tables are vocab- / vocab^2-cardinality: joined hint-free so
    # AQE broadcasts them when small and shuffles when a real corpus's
    # vocabulary isn't.
    sp = (
        pairs.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .select(
            "doc_id",
            "pos",
            (F.col("pc").cast("double") / F.col("lc")).alias("pr"),
        )
    )
    agg = sp.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "pr"))),
                lambda s: s["pr"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        (F.col("s") / F.col("n_bigrams")).alias("avg_cond_prob"),
    )


# --------------------------------------------------------------------------
# Cluster-balanced (diversity-aware) sampling: up to n_per_cell vectors
# from every trained k-means cell, most-central first — the standard
# counter to head-heavy corpora (a uniform sample over-draws the dense
# clusters; per-cell quotas guarantee tail coverage).  Ordering is
# (cosine to own centroid DESC, vec_id ASC): deterministic, and the
# per-cell window is cell-partitioned — never global.
# --------------------------------------------------------------------------
_CB_N_PER_CELL = 20


def _cluster_balanced_oracle(k: int = 8, iters: int = 3, d: int = 64) -> str:
    parts = _kmeans_fin_ctes(k, iters, d)
    parts[-1] += ","
    parts += [
        f"cc AS (SELECT cell, cv, cnorm FROM c{iters}),",
        "scored AS (SELECT f.vec_id, f.cell, "
        f"{_sql_dot('f.v', 'cc.cv')} / (f.nrm * cc.cnorm) AS centrality "
        "FROM fin f JOIN cc ON f.cell = cc.cell)",
        "SELECT vec_id, cell, centrality, CAST(rk AS INT) AS rk FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY cell "
        "ORDER BY centrality DESC, vec_id ASC) AS rk FROM scored) "
        f"WHERE rk <= {_CB_N_PER_CELL}",
    ]
    return "\n".join(parts)


@register(
    "sample_cluster_balanced",
    oracle=_cluster_balanced_oracle(),
    tags=("sampling", "similarity", "kmeans", "diversity"),
    doc="Per-cell quota sampling over trained k-means cells, most-central first.",
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    assigned = S.ivf_assign(emb, centroids)
    c = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col("embedding").alias("c_vec"),
        S.l2_norm(F.col("embedding")).alias("c_norm"),
    )
    scored = assigned.join(F.broadcast(c), "cell").select(
        F.col("vid").alias("vec_id"),
        "cell",
        (
            S.dot(F.col("vec"), F.col("c_vec")) / (F.col("nrm") * F.col("c_norm"))
        ).alias("centrality"),
    )
    from fotmobdatapipeline_spark.operators.sampling import bounded_topk_per_group

    # two-phase distributed top-m per cell (round 12): cells are few
    # (k=8) and data-scale, so a bare per-cell window is 8 single-task
    # sorts; the survivor rank is the exact global rank (see operator doc)
    return bounded_topk_per_group(
        scored,
        ["cell"],
        [F.desc("centrality"), F.asc("vec_id")],
        _CB_N_PER_CELL,
        rank_col="rk",
    ).select("vec_id", "cell", "centrality", F.col("rk").cast("int").alias("rk"))


# --------------------------------------------------------------------------
# Power-iteration top principal component (similarity.py): v <-
# normalize(X^T X v), the Gram matrix never materialized — each round is
# a broadcast-v map pass + a d-row fixed-point aggregate (the
# kmeans_lloyd determinism technique), so the trained component replays
# as unrolled SQL exactly like the k-means oracle.
# --------------------------------------------------------------------------
def _power_iter_oracle(iters: int = 3, d: int = 64) -> str:
    qs = ", ".join(
        f"SUM(CAST(trunc(({_sql_dot('en.v', 'p.vv')} * en.v[{j}]) * 1000000000.0) "
        "AS HUGEINT))"
        for j in range(1, d + 1)
    )
    parts = [
        "WITH en AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),",
        "s0 AS (SELECT v FROM en ORDER BY vec_id LIMIT 1),",
        f"v0 AS (SELECT list_transform(v, x -> x / sqrt({_sql_dot('v', 'v')})) "
        "AS vv FROM s0),",
    ]
    for t in range(1, iters + 1):
        parts += [
            f"m{t} AS (SELECT [{qs}] AS qs FROM en CROSS JOIN v{t - 1} p),",
            f"u{t} AS (SELECT list_transform(range(1, {d + 1}), "
            "j -> CAST(m.qs[j] AS DOUBLE) / 1000000000.0) AS u "
            f"FROM m{t} m),",
            f"v{t} AS (SELECT list_transform(u, x -> x / sqrt({_sql_dot('u', 'u')})) "
            f"AS vv, sqrt({_sql_dot('u', 'u')}) AS lam FROM u{t}),",
        ]
    parts += [
        f"dims AS (SELECT UNNEST(range(1, {d + 1})) AS j)",
        f"SELECT CAST(j - 1 AS INT) AS dim, vv[j] AS loading, lam AS eigenvalue "
        f"FROM v{iters}, dims",
    ]
    return "\n".join(parts)


@register(
    "embedding_top_component",
    oracle=_power_iter_oracle(),
    tags=("similarity", "pca", "iterative"),
    doc="Top principal direction by 3-round power iteration (fixed-point replay).",
)
def embedding_top_component(spark: SparkSession, sf_dir: str):
    return S.power_iteration_top_component(
        read_table(spark, sf_dir, "embeddings"), iterations=3
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023): k-means-cluster the
# embedding space, drop every vector with a smaller-id cluster-mate at
# cosine >= tau — the third dedup tier (exact -> fuzzy-text -> semantic).
# Value-exact oracle: same unrolled-k-means CTE chain as
# sim_ivf_kmeans_topk (fixed-point means are bit-reproducible), then a
# per-vector MAX cosine over smaller-id cluster-mates (max over doubles
# is order-independent; each cosine is the shared sequential-fold dot).
# tau is chosen against this synthetic corpus's cosine range (max
# in-cell pairwise ~0.46) so both verdicts occur.
# --------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.3


def _semantic_dedup_oracle(k: int = 8, iters: int = 3, d: int = 64) -> str:
    parts = _kmeans_fin_ctes(k, iters, d)
    parts[-1] += ","
    parts += [
        "p AS (SELECT a.vec_id AS vec_id, "
        f"MAX({_sql_dot('a.v', 'b.v')} / (a.nrm * b.nrm)) AS max_sim_prior "
        "FROM fin a JOIN fin b ON a.cell = b.cell AND b.vec_id < a.vec_id "
        "GROUP BY a.vec_id)",
        "SELECT f.vec_id AS vec_id, f.cell AS cell, p.max_sim_prior AS max_sim_prior, "
        f"(p.max_sim_prior IS NULL OR p.max_sim_prior < CAST({_SEMDEDUP_TAU!r} AS DOUBLE)) AS kept "
        "FROM fin f LEFT JOIN p ON f.vec_id = p.vec_id",
    ]
    return "\n".join(parts)


@register(
    "dedup_semantic_clusters",
    oracle=_semantic_dedup_oracle(),
    tags=("dedup", "similarity", "kmeans", "semdedup"),
    doc="SemDeDup: in-cluster cosine>=tau drop with trained k-means cells.",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    return S.semantic_dedup(emb, centroids, tau=_SEMDEDUP_TAU)


# Same semantics, same oracle, SIMD execution: the corpus-sized-k scale
# path (operators/similarity.py::semantic_dedup_cells — numpy cell
# assignment + blocked per-cell lower-triangle max, bit-identical to the
# JVM join by the sequential-across-dimensions accumulation doctrine).
# Registered as its own entry so the DRIVER attests the numpy path's
# value-equality, not only the in-repo pin test: the r13 sf10 audit
# showed the JVM form's per-pair interpreted fold timing out at 200k
# vectors (k=8 cells of 25k), while this form finishes in seconds at
# production sizing — see SCALE.md round 13.
@register(
    "dedup_semantic_cells",
    oracle=_semantic_dedup_oracle(),
    tags=("dedup", "similarity", "kmeans", "semdedup", "arrow"),
    doc="SemDeDup via the numpy cell-blocked scale path (same oracle).",
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    return S.semantic_dedup_cells(emb, centroids, tau=_SEMDEDUP_TAU)


# --------------------------------------------------------------------------
# Embedding near-dup pairs: sign-LSH bucket self-join + exact cosine
# re-score — the scale path for embedding-cosine dedup (the cross join
# never happens; candidates only meet inside a bucket).
# --------------------------------------------------------------------------
@register(
    "sim_lsh_candidate_pairs",
    oracle=f"""
    WITH v0 AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, embedding, nrm, bucket FROM (
        SELECT v0.*, COUNT(*) OVER (PARTITION BY bucket) AS bdf FROM v0
      ) WHERE bdf <= {_LSH_BUCKET_DF}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos_sim
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.0
    """,
    tags=("similarity", "lsh", "dedup"),
)
def sim_lsh_candidate_pairs(spark: SparkSession, sf_dir: str):
    # n_bits=8 keeps visible candidate pairs at test scale; production
    # sizes n_bits to the corpus (operator default 16) and the bucket
    # cap bounds the hot-bucket fan-out either way.
    return S.lsh_candidate_pairs(
        read_table(spark, sf_dir, "embeddings"),
        n_bits=8,
        min_cosine=0.0,
        max_bucket_df=_LSH_BUCKET_DF,
    )


# --------------------------------------------------------------------------
# Embedding column stats per label (rounded-decimal sums for determinism).
# --------------------------------------------------------------------------
@register(
    "embedding_label_stats",
    oracle=f"""
    WITH v AS (
      SELECT label, sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(nrm, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
           MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
    FROM v GROUP BY label
    """,
    tags=("similarity", "agg"),
)
def embedding_label_stats(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    nrm = S.l2_norm(F.col("embedding"))
    return (
        emb.select(F.col("label").cast("int").alias("label"), nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("nrm"), 6).cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


# --------------------------------------------------------------------------
# Array ops: posexplode normalized vector components (unit vectors).
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# EMBEDDING drift monitor: per-label centroid rotation vs the pinned
# baseline snapshot — the embedding-modality sibling of
# drift_event_type_shares / drift_value_ks (a silent encoder swap or
# upstream distribution shift shows up as the label centroid turning).
# Determinism: per-(label, pos) component sums are FIXED-POINT BIGINT
# (trunc(val*1e4) — the kmeans_lloyd technique at a coarser scale), and
# cosine is scale-invariant so the SUM vectors stand in for the means:
# the dot and squared-norm folds over the 64 per-position products are
# exact int64 arithmetic (bounded ~1e15), with ONE double
# division/sqrt at the end.  The scale is 1e4, not 1e9, so every
# intermediate stays under 2^63 AND under the int64 range where both
# engines' int->double conversion is correctly rounded (DuckDB's
# HUGEINT->DOUBLE is two-step and can be off by an ulp — measured);
# 1e-4 component quantization is far below drift-alarm resolution.
# --------------------------------------------------------------------------
def _centroid_sums_sql(src: str) -> str:
    return f"""
      SELECT CAST(label AS INT) AS label, CAST(i AS INT) AS pos,
             SUM(CAST(trunc(CAST(embedding[i] AS DOUBLE) * 10000.0)
                 AS BIGINT)) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM {src}, UNNEST(range(1, len(embedding) + 1)) AS u(i)
      GROUP BY 1, 2"""


@register(
    "drift_embedding_centroid",
    oracle=f"""
    WITH cur AS ({_centroid_sums_sql('embeddings')}),
    base AS ({_centroid_sums_sql(f"read_parquet('{_DRIFT_BASELINE_DIR}/embeddings.parquet')")}),
    j AS (
      SELECT c.label, c.s AS sc, b.s AS sb, c.n AS n_cur, b.n AS n_base
      FROM cur c JOIN base b ON c.label = b.label AND c.pos = b.pos
    )
    SELECT label, MIN(n_cur) AS n_cur, MIN(n_base) AS n_base,
           CAST(SUM(sc * sb) AS DOUBLE)
             / (sqrt(CAST(SUM(sc * sc) AS DOUBLE))
                * sqrt(CAST(SUM(sb * sb) AS DOUBLE))) AS centroid_cos
    FROM j GROUP BY label
    """,
    tags=("similarity", "dq", "drift", "audit"),
    doc="Per-label centroid cosine vs the pinned baseline snapshot.",
)
def drift_embedding_centroid(spark: SparkSession, sf_dir: str):
    def sums(df):
        return (
            df.select(
                F.col("label").cast("int").alias("label"),
                F.posexplode("embedding").alias("pos0", "val"),
            )
            .select(
                "label",
                (F.col("pos0") + 1).cast("int").alias("pos"),
                # double->long cast truncates toward zero == SQL trunc
                # (the kmeans_lloyd quantize idiom; floor would differ
                # on negative components).
                (F.col("val").cast("double") * F.lit(1.0e4))
                .cast("long")
                .alias("q"),
            )
            .groupBy("label", "pos")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
        )

    cur = sums(read_table(spark, sf_dir, "embeddings"))
    base = sums(read_table(spark, _DRIFT_BASELINE_DIR, "embeddings")).select(
        "label", "pos", F.col("s").alias("sb"), F.col("n").alias("n_base")
    )
    j = cur.join(base, ["label", "pos"])
    return j.groupBy("label").agg(
        F.min("n").alias("n_cur"),
        F.min("n_base").alias("n_base"),
        (
            F.sum(F.col("s") * F.col("sb")).cast("double")
            / (
                F.sqrt(F.sum(F.col("s") * F.col("s")).cast("double"))
                * F.sqrt(F.sum(F.col("sb") * F.col("sb")).cast("double"))
            )
        ).alias("centroid_cos"),
    )


@register(
    "embedding_unit_components",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings WHERE vec_id < 5
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           CAST(embedding[i] AS DOUBLE) / nrm AS unit_val
    FROM v, UNNEST(range(1, len(embedding) + 1)) AS u(i)
    """,
    tags=("similarity", "explode"),
)
def embedding_unit_components(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    nrm = S.l2_norm(F.col("embedding"))
    return emb.select(
        "vec_id", nrm.alias("nrm"), F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id", "pos", (F.col("val").cast("double") / F.col("nrm")).alias("unit_val")
    )


# --------------------------------------------------------------------------
# Text normalization -> dedup: lowercase, strip non-alphanumerics,
# collapse whitespace, then group — the canonicalization tier that runs
# before every exact/fuzzy dedup pass (catches case/punctuation
# variants tier-1 exact dedup misses).
# --------------------------------------------------------------------------
@register(
    "text_normalize_dedup",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT MIN(doc_id) AS doc_id, md5(norm) AS norm_hash, COUNT(*) AS n_docs
    FROM n GROUP BY norm
    """,
    tags=("text", "dedup", "normalize"),
    doc="Canonicalize (case/punct/whitespace) then group — pre-dedup tier.",
)
def text_normalize_dedup(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        docs.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_docs"))
        .select("doc_id", F.md5("norm").alias("norm_hash"), "n_docs")
    )


# --------------------------------------------------------------------------
# Training-data prep: deterministic train/val/test split — content-hash
# bucket assignment (not RNG), so a document keeps its split across
# re-crawls, repartitions, and engines (leakage-proof by construction).
# --------------------------------------------------------------------------
_SQL_DOC_BUCKET = (
    "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
)


# --------------------------------------------------------------------------
# LEAKAGE-SAFE split: assign whole near-dup clusters to one split by
# hashing the cluster REPRESENTATIVE, not the document — the eval-
# hygiene rule (dedup before split) as an operator: a near-duplicate of
# a training doc can never land in test, by construction, because both
# hash the same representative.  Uses the shared CC labels; singletons
# represent themselves.  Output is the split-level census (n_docs,
# n_clusters per split); the no-cluster-spans-splits invariant is
# pinned in test_properties.
# --------------------------------------------------------------------------
def _sql_rep_bucket(col: str) -> str:
    return (
        f"((strpos('0123456789abcdef', substr(md5(CAST({col} AS VARCHAR)), 1, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr(md5(CAST({col} AS VARCHAR)), 2, 1)) - 1)"
    )


@register(
    "split_cluster_safe",
    oracle=f"""
    WITH RECURSIVE tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    reps AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
    lab AS (
      SELECT d.doc_id, COALESCE(p.cluster_id, d.doc_id) AS rep
      FROM documents d LEFT JOIN reps p ON d.doc_id = p.doc_id
    ),
    assigned AS (
      SELECT doc_id, rep,
             CASE WHEN {_sql_rep_bucket('rep')} < 205 THEN 'train'
                  WHEN {_sql_rep_bucket('rep')} < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM lab
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters
    FROM assigned GROUP BY split
    """,
    tags=("training-data", "split", "dedup", "leakage"),
    doc="Cluster-safe train/val/test split: whole near-dup clusters per split.",
)
def split_cluster_safe(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    reps = _dup_cluster_reps_shared(spark, sf_dir)
    lab = (
        docs.select("doc_id")
        .join(reps, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("rep"))
    )
    bucket = hash_bucket_256(F.col("rep"))
    split = (
        F.when(bucket < 205, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        lab.select("rep", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
    )


@register(
    "split_assignment",
    oracle=f"""
    WITH b AS (
      SELECT lang,
             CASE WHEN {_SQL_DOC_BUCKET} < 205 THEN 'train'
                  WHEN {_SQL_DOC_BUCKET} < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs FROM b GROUP BY lang, split
    """,
    tags=("training-data", "split"),
    doc="Hash-bucket train/val/test assignment (80/10/10), per-language counts.",
)
def split_assignment(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    bucket = hash_bucket_256(F.col("doc_id"))
    split = (
        F.when(bucket < 205, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Training-data prep: weighted dataset mixture — per-source sampling
# rates applied via the same content-hash buckets (deterministic
# up/down-weighting of sources when composing a training mix).
# --------------------------------------------------------------------------
_HI = tuple(f"src{i}" for i in range(4))       # keep 100%
_MID = tuple(f"src{i}" for i in range(4, 10))  # keep 50%


def _sql_rate() -> str:
    hi = ", ".join(f"'{s}'" for s in _HI)
    mid = ", ".join(f"'{s}'" for s in _MID)
    return f"CASE WHEN source IN ({hi}) THEN 256 WHEN source IN ({mid}) THEN 128 ELSE 64 END"


@register(
    "dataset_mixture",
    oracle=f"""
    SELECT source, COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE {_SQL_DOC_BUCKET} < {_sql_rate()}) AS n_kept
    FROM documents GROUP BY source
    """,
    tags=("training-data", "mixture"),
    doc="Per-source sampling rates (100/50/25%) via content-hash buckets.",
)
def dataset_mixture(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin(*_HI), F.lit(256))
        .when(F.col("source").isin(*_MID), F.lit(128))
        .otherwise(F.lit(64))
    )
    kept = hash_bucket_256(F.col("doc_id")) < rate
    return docs.groupBy("source").agg(
        F.count("*").alias("n_total"), F.count_if(kept).alias("n_kept")
    )


# --------------------------------------------------------------------------
# Production-shape incremental dedup: flag TODAY'S batch against the
# existing corpus (distinct-fingerprint index, derivable or precomputed)
# plus within-batch first-occurrence — history is never re-deduplicated.
# --------------------------------------------------------------------------
_SQL_FP = "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))"


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH corpus_fps AS (
      SELECT DISTINCT {_SQL_FP} AS fp FROM documents WHERE doc_id % 10 <> 0
    ),
    bfp AS (
      SELECT doc_id, {_SQL_FP} AS fp FROM documents WHERE doc_id % 10 = 0
    ),
    firsts AS (SELECT fp, MIN(doc_id) AS first_id FROM bfp GROUP BY fp)
    SELECT b.doc_id, b.fp,
           (c.fp IS NOT NULL) AS dup_of_corpus,
           (b.doc_id <> f.first_id) AS dup_within_batch
    FROM bfp b
    LEFT JOIN corpus_fps c ON b.fp = c.fp
    JOIN firsts f ON b.fp = f.fp
    """,
    tags=("dedup", "incremental", "llmdata"),
    doc="Incremental dedup: new batch flagged against the corpus index.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return D.incremental_dedup_flags(corpus, batch)


# --------------------------------------------------------------------------
# Sketch tier: KMV join-overlap estimation — pre-join cardinality
# ("how many orders custkeys exist in customer?") from two k-row
# sketches, never joining the tables.  The exact intersection rides
# along so the estimate's error is visible as data (same self-auditing
# shape as sketch_kmv_distinct / the HLL bound check).
# --------------------------------------------------------------------------
@register(
    "sketch_kmv_join_overlap",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT
        {_sql_hex32("substr(md5('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 8)")} AS h
      FROM orders
    ),
    hb AS (
      SELECT DISTINCT
        {_sql_hex32("substr(md5('kmv:' || CAST(c_custkey AS VARCHAR)), 1, 8)")} AS h
      FROM customer
    ),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    comb AS (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
      ORDER BY h LIMIT {_KMV_K}
    ),
    agg AS (SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_hash FROM comb),
    nb AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM comb
      WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
    ),
    ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersect FROM (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer)
      )
    )
    SELECT n_sketch, kth_hash, n_both,
           CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE)
                ELSE {float((_KMV_K - 1) * 2 ** 32)} / kth_hash END AS est_union,
           (CAST(n_both AS DOUBLE) / CAST(n_sketch AS DOUBLE))
             * (CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE)
                     ELSE {float((_KMV_K - 1) * 2 ** 32)} / kth_hash END)
             AS est_intersect,
           exact_intersect
    FROM agg, nb, ex
    """,
    tags=("sketch", "join", "cardinality"),
    doc="KMV join-overlap: union/intersection estimate from two k-row sketches.",
)
def sketch_kmv_join_overlap(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import kmv_join_overlap

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    est = kmv_join_overlap(orders, "o_custkey", customer, "c_custkey", k=_KMV_K)
    exact = (
        orders.select("o_custkey")
        .distinct()
        .join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_semi",
        )
        .agg(F.count("*").alias("exact_intersect"))
    )
    return est.crossJoin(exact)


# --------------------------------------------------------------------------
# Curation: per-vector NOVELTY score — the max cosine to any sign-LSH
# bucket peer (high max -> redundant, low/null -> novel; the weighting
# signal diversity-aware sampling consumes).  Candidates only meet
# inside a bucket (never all-pairs); max/count are combinable
# aggregates, so the reduction is skew-safe even for a hot bucket.
# --------------------------------------------------------------------------
@register(
    "novelty_max_cosine",
    oracle=f"""
    WITH v0 AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    ),
    v AS (
      SELECT vec_id, embedding, nrm, bucket FROM (
        SELECT v0.*, COUNT(*) OVER (PARTITION BY bucket) AS bdf FROM v0
      ) WHERE bdf <= {_LSH_BUCKET_DF}
    ),
    pr AS (
      SELECT a.vec_id AS ida,
             {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cs
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    agg AS (
      SELECT ida AS vec_id, MAX(cs) AS max_cos,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM pr GROUP BY ida
    )
    SELECT e.vec_id, a.max_cos,
           COALESCE(a.n_candidates, 0) AS n_candidates
    FROM embeddings e LEFT JOIN agg a ON e.vec_id = a.vec_id
    """,
    tags=("similarity", "curation", "llmdata"),
    doc="Per-vector novelty: max cosine to any LSH-bucket peer.",
)
def novelty_max_cosine(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    # min_cosine=-2 keeps every in-bucket pair (cosine is in [-1, 1]);
    # hot buckets are df-capped before pair generation (oracle mirrors).
    pairs = S.lsh_candidate_pairs(
        emb, n_bits=8, min_cosine=-2.0, max_bucket_df=_LSH_BUCKET_DF
    )
    both = pairs.select(
        F.col("id_a").alias("vec_id"), "cos_sim"
    ).unionByName(pairs.select(F.col("id_b").alias("vec_id"), "cos_sim"))
    agg = both.groupBy("vec_id").agg(
        F.max("cos_sim").alias("max_cos"),
        F.count("*").alias("n_candidates"),
    )
    return (
        emb.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            "max_cos",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        )
    )


# --------------------------------------------------------------------------
# Corpus audit: robust (median/MAD) length-outlier detection per source.
# Medians are EXACT lower medians by rank arithmetic (row_number to the
# ceil(n/2)-th element) — integer-exact in both engines, no interpolated
# percentile whose FP behavior differs.  The outlier rule |len - med| >
# 3*MAD is all-integer.  Two per-source window sorts (the per-key-sort
# floor, same shape as agg_exact_quantiles).
# --------------------------------------------------------------------------
@register(
    "quality_length_outliers",
    oracle="""
    WITH lens AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    med AS (
      SELECT source, dl AS med_len FROM (
        SELECT source, dl,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY dl, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM lens
      ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
      SELECT l.source, l.doc_id, l.dl, m.med_len,
             abs(l.dl - m.med_len) AS adev
      FROM lens l JOIN med m ON l.source = m.source
    ),
    mad AS (
      SELECT source, adev AS mad FROM (
        SELECT source, adev,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY adev, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM dev
      ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ANY_VALUE(d.med_len) AS BIGINT) AS med_len,
           CAST(ANY_VALUE(m.mad) AS BIGINT) AS mad,
           CAST(COUNT(*) FILTER (WHERE d.adev > 3 * m.mad) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.source = m.source
    GROUP BY d.source
    """,
    tags=("text", "quality", "audit", "llmdata"),
    doc="Robust per-source length outliers: exact lower-median/MAD rule.",
)
def quality_length_outliers(spark: SparkSession, sf_dir: str):
    return length_outlier_stats(read_table(spark, sf_dir, "documents"))


def length_outlier_stats(
    docs, group_col: str = "source", id_col: str = "doc_id", k_mad: int = 3
):
    """The operator proper (also exercised on hand-built frames in
    tests): exact lower-median/MAD length outliers per group."""
    from pyspark.sql import Window

    # lens feeds the median window, the deviation join, and the final
    # aggregate; checkpoint the narrow (group, id, dl) projection so the
    # corpus text is scanned ONCE (the sentence_dedup doctrine), and dev
    # likewise for its two consumers.
    lens = docs.select(
        group_col,
        id_col,
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dl"),
    ).transform(share)

    def lower_median(df, val_col, out_col):
        w = Window.partitionBy(group_col).orderBy(val_col, id_col)
        wn = Window.partitionBy(group_col)
        return (
            df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count("*").over(wn))
            .filter(
                F.col("rk") == F.ceil(F.col("n") / F.lit(2.0)).cast("bigint")
            )
            .select(group_col, F.col(val_col).alias(out_col))
        )

    med = lower_median(lens, "dl", "med_len")
    dev = (
        lens.join(med, group_col)
        .withColumn("adev", F.abs(F.col("dl") - F.col("med_len")))
        .transform(share)
    )
    mad = lower_median(dev, "adev", "mad")
    return (
        dev.join(mad, group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.any_value("med_len").alias("med_len"),
            F.any_value("mad").alias("mad"),
            F.count_if(F.col("adev") > k_mad * F.col("mad")).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# Corpus audit: lang x source independence (chi-square cells).  Expected
# counts and contributions are a FIXED expression over exact integer
# marginals — (double)n_l * (double)n_s / (double)N, then
# (n_ls - exp)^2 / exp — bit-identical across engines; the per-cell form
# avoids summing doubles in a shuffle-ordered aggregate (consumers sum
# the 100-cell result however they like).  Detects mixture bias (a
# source over-representing a language) before training.
# --------------------------------------------------------------------------
@register(
    "audit_lang_source_chi2",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM documents GROUP BY lang, source
    ),
    rows_t AS (SELECT lang, CAST(SUM(n_obs) AS BIGINT) AS n_lang
               FROM cells GROUP BY lang),
    cols_t AS (SELECT source, CAST(SUM(n_obs) AS BIGINT) AS n_source
               FROM cells GROUP BY source),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cells)
    SELECT c.lang, c.source, c.n_obs,
           CAST(r.n_lang AS DOUBLE) * CAST(s.n_source AS DOUBLE)
             / CAST(t.n AS DOUBLE) AS expected,
           (CAST(c.n_obs AS DOUBLE)
              - CAST(r.n_lang AS DOUBLE) * CAST(s.n_source AS DOUBLE)
                / CAST(t.n AS DOUBLE))
           * (CAST(c.n_obs AS DOUBLE)
              - CAST(r.n_lang AS DOUBLE) * CAST(s.n_source AS DOUBLE)
                / CAST(t.n AS DOUBLE))
           / (CAST(r.n_lang AS DOUBLE) * CAST(s.n_source AS DOUBLE)
                / CAST(t.n AS DOUBLE)) AS chi2_contrib
    FROM cells c
    JOIN rows_t r ON c.lang = r.lang
    JOIN cols_t s ON c.source = s.source
    CROSS JOIN tot t
    """,
    tags=("text", "audit", "mixture", "llmdata"),
    doc="Lang x source chi-square cells: mixture-bias audit.",
)
def audit_lang_source_chi2(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    # One corpus pass (r15): the three marginals are rollups of the
    # contingency-table-sized `cells` frame, but their differing column
    # demand kept exchange/stage reuse from firing (runtime audit: 4
    # distinct documents scans, 0 Reused nodes).  `cells` is tiny
    # (langs x sources rows) — a lazy checkpoint makes all four
    # consumers read it once.  Integer sums regrouped: values exact.
    cells = (
        docs.groupBy("lang", "source")
        .agg(F.count("*").alias("n_obs"))
        .transform(share)
    )
    rows_t = cells.groupBy("lang").agg(F.sum("n_obs").alias("n_lang"))
    cols_t = cells.groupBy("source").agg(F.sum("n_obs").alias("n_source"))
    tot = cells.agg(F.sum("n_obs").alias("n"))
    expected = (
        F.col("n_lang").cast("double")
        * F.col("n_source").cast("double")
        / F.col("n").cast("double")
    )
    diff = F.col("n_obs").cast("double") - expected
    return (
        cells.join(F.broadcast(rows_t), "lang")
        .join(F.broadcast(cols_t), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_obs",
            expected.alias("expected"),
            (diff * diff / expected).alias("chi2_contrib"),
        )
    )


# --------------------------------------------------------------------------
# Training-data prep: per-source TOKEN-BUDGET sampling — admit documents
# in deterministic (doc_id) order per source until the source's running
# token total reaches the budget.  This is how mixtures are actually
# specified in practice ("200B tokens of web, 50B of code"), vs
# dataset_mixture's doc-RATE form.  One per-source window cumulative sum
# (the per-key-sort floor every RANGE/ROWS window shares; at 100 TB the
# source key count is small and AQE splits stragglers), exact integers.
# --------------------------------------------------------------------------
_TOKEN_BUDGET = 2000


@register(
    "mixture_token_budget",
    oracle=f"""
    WITH sized AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_tokens
      FROM documents
    ),
    running AS (
      SELECT source, doc_id, doc_tokens,
             SUM(doc_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM sized
    )
    SELECT source, doc_id, doc_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM running WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
    tags=("training-data", "mixture", "sampling"),
    doc="Per-source token-budget admission in deterministic doc order.",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sum

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("doc_tokens"),
    )
    # per-source cumulative tokens through the distributed grouped
    # prefix scan (round 12): 10 sources over the corpus would
    # otherwise be 10 single-task running sums
    return (
        grouped_running_sum(
            sized, ["source"], ["doc_id"], "doc_tokens", out_col="cum_tokens"
        )
        .filter(F.col("cum_tokens") <= _TOKEN_BUDGET)
        .select("source", "doc_id", "doc_tokens", "cum_tokens")
    )


# --------------------------------------------------------------------------
# Training-data prep: vocabulary build + token-id encoding — top-K vocab
# by (count DESC, word ASC), documents encoded to id sequences with
# OOV = -1.  The explode -> broadcast-join -> ordered re-aggregation is
# the distributed tokenizer-encode shape (vocab broadcast, corpus never
# shuffled except the per-doc regroup).
# --------------------------------------------------------------------------
_VOCAB_K = 50


@register(
    "text_vocab_encode",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    vocab AS (
      SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w ASC) - 1 AS INT) AS vid
      FROM tok GROUP BY w
      ORDER BY COUNT(*) DESC, w ASC LIMIT {_VOCAB_K}
    ),
    enc AS (
      SELECT t.doc_id, t.pos, COALESCE(v.vid, -1) AS vid
      FROM tok t LEFT JOIN vocab v ON t.w = v.w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE vid = -1) AS INT) AS n_oov,
           array_to_string(list_sort(list_zip(list(pos), list(vid)))[1:8],
                           ',') AS head_pairs
    FROM enc GROUP BY doc_id
    """,
    tags=("training-data", "tokenize", "vocab"),
    doc="Top-K vocab build + OOV-aware token-id encoding.",
)
def text_vocab_encode(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")

    # Distributed top-K vocab: orderBy().limit(K) compiles to
    # TakeOrderedAndProject (per-partition top-K, merged on the driver) —
    # never a single-partition global window over ALL distinct words,
    # which would serialize a billion-row word table at corpus scale.
    # The K survivors (a vocab-sized list, like k-means centroids) are
    # ranked driver-side and broadcast back.
    counts = tok.groupBy("w").agg(F.count("*").alias("n"))
    topk = counts.orderBy(F.desc("n"), F.asc("w")).limit(_VOCAB_K).collect()
    topk.sort(key=lambda r: (-r["n"], r["w"]))  # defensive re-sort
    vocab = spark.createDataFrame(
        [(r["w"], i) for i, r in enumerate(topk)], schema="w string, vid int"
    )
    enc = tok.join(F.broadcast(vocab), "w", "left").select(
        "doc_id", "pos", F.coalesce("vid", F.lit(-1)).alias("vid")
    )
    pairs = F.array_sort(F.collect_list(F.struct("pos", "vid")))
    head = F.array_join(
        F.transform(
            F.slice(pairs, 1, 8),
            lambda s: F.concat(
                F.lit("("), s["pos"].cast("string"), F.lit(", "),
                s["vid"].cast("string"), F.lit(")"),
            ),
        ),
        ",",
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.count_if(F.col("vid") == -1).cast("int").alias("n_oov"),
        head.alias("head_pairs"),
    )


# --------------------------------------------------------------------------
# Multimodal plumbing: opaque binary column + typed metadata features.
# The heavy decode path (images/audio) is the mapInPandas stub in
# multimodal/binary_ops.py; this query verifies the schema/metadata side.
# --------------------------------------------------------------------------
@register(
    "multimodal_binary_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           hex(encode(substr(text, 1, 4))) AS header_hex,
           CAST(octet_length(encode(text)) % 64 AS INT) AS shard,
           'text/plain' AS mime
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    n_bytes = F.length(payload)
    return docs.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.hex(F.encode(F.substring("text", 1, 4), "UTF-8")).alias("header_hex"),
        (n_bytes % 64).alias("shard"),
        F.lit("text/plain").alias("mime"),
    )


# --------------------------------------------------------------------------
# Multimodal decode path: Arrow-batched mapInPandas feature extraction
# (deterministic stand-in decoder).  The float feature vector is exact
# integer byte math (sum of bytes per slot mod 997), so it serializes to
# an int CSV that a DuckDB oracle reproduces byte-for-byte: the blob is
# hexed once and byte i recovered from hex chars 2i+1..2i+2 via strpos
# arithmetic (DuckDB substr does not accept BLOB).
# --------------------------------------------------------------------------
@register(
    "multimodal_feature_extract",
    oracle="""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             (strpos('0123456789abcdef', substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1) AS bv
      FROM b, UNNEST(range(0, n)) AS u(i)
    ),
    slot AS (
      SELECT doc_id, i % 8 AS j, SUM(bv) % 997 AS v
      FROM bytes GROUP BY doc_id, i % 8
    ),
    grid AS (
      SELECT doc_id, CAST(g AS INT) AS j FROM b, UNNEST(range(0, 8)) AS u(g)
    ),
    feat AS (
      SELECT grid.doc_id, grid.j, COALESCE(slot.v, 0) AS v
      FROM grid LEFT JOIN slot ON grid.doc_id = slot.doc_id AND grid.j = slot.j
    )
    SELECT b.doc_id, b.n AS n_bytes, upper(substr(b.hx, 1, 8)) AS header_hex,
           fs.feature_csv
    FROM b JOIN (
      SELECT doc_id, string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS feature_csv
      FROM feat GROUP BY doc_id
    ) fs USING (doc_id)
    """,
    tags=("multimodal", "pandas-udf"),
    doc="Arrow-batched feature extraction with an exact byte-math oracle.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        extract_features,
        fake_decoder,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    feats = extract_features(media, decoder=fake_decoder)
    # Serialize the (exactly-integer) float vector so the result is
    # canonicalizable and hash-comparable; the array form stays available
    # via extract_features directly.
    return feats.select(
        "doc_id",
        "n_bytes",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("int").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Multimodal REAL decode (VERDICT r6 #4): each document's bytes are
# packed into a genuine 24-bit BMP container (pure-Python codec,
# multimodal/bmp.py: file+info headers, bottom-up rows, B,G,R channel
# order, 4-byte stride padding) by one Arrow-batched stage, then a
# second stage DECODES the container back — parsing the headers,
# re-flipping the rows, un-swapping the channels, stripping the pad —
# and summarizes the decoded pixels with exact integer stats.  The
# oracle recomputes those stats from the text column alone, so any
# decode defect (missed flip, wrong stride, channel order) breaks the
# position-weighted checksum: this entry verifies REAL decoded bytes,
# not plumbing.  5x4 px => 60 pixel bytes; stride 16 (pad 1) exercises
# the alignment path; file size 54+4*16 = 118 and header 'BM'+size_lo
# ('424D7600') pin the container format itself.
# --------------------------------------------------------------------------
_BMP_W, _BMP_H = 5, 4


@register(
    "multimodal_bmp_decode",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CASE WHEN i < n THEN
               (strpos('0123456789abcdef', substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1)
             ELSE 0 END AS bv
      FROM b, UNNEST(range(0, {_BMP_W * _BMP_H * 3})) AS u(i)
    ),
    stats AS (
      SELECT doc_id,
             MAX(CASE WHEN i = 0 THEN bv END) AS first_byte,
             SUM(bv) AS total,
             SUM((i + 1) * bv) AS weighted
      FROM bytes GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({54 + _BMP_H * ((_BMP_W * 3 + 3) // 4 * 4)} AS INT) AS n_bytes,
           '424D7600' AS header_hex,
           CAST({_BMP_W} AS VARCHAR) || ',' || CAST({_BMP_H} AS VARCHAR) || ','
             || CAST(first_byte AS VARCHAR) || ','
             || CAST(total AS VARCHAR) || ','
             || CAST(weighted AS VARCHAR) AS feature_csv
    FROM stats
    """,
    tags=("multimodal", "pandas-udf", "codec", "decode"),
    doc="Real BMP encode->decode roundtrip with order-sensitive checksum oracle.",
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        bmp_feature_decoder,
        encode_media_as_bmp,
        extract_features,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    bmp = encode_media_as_bmp(media, width=_BMP_W, height=_BMP_H)
    feats = extract_features(bmp, decoder=bmp_feature_decoder)
    return feats.select(
        "doc_id",
        "n_bytes",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("long").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Multimodal REAL resize: decode -> nearest-neighbor scale -> re-encode
# (multimodal/bmp.py resize_bmp), upgrading the resize stage from the
# shape-correct stand-in to genuine pixel math.  4x2 source images
# (pixel material = text bytes) scale to 2x1: output pixel p samples
# source pixel (p*2, 0), i.e. output byte j comes from source byte
# (j//3)*6 + j%3 — the mapping the oracle replays directly on the text
# hex.  A resizer that forgot the row flip, channel swap, or floor
# mapping shifts those positions and breaks the weighted checksum.
# Resized container: 2x1 => stride 8, size 62, header '424D3E00'.
# --------------------------------------------------------------------------
_RSZ_SW, _RSZ_SH, _RSZ_OW, _RSZ_OH = 4, 2, 2, 1


@register(
    "multimodal_bmp_resize",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    ob AS (
      SELECT doc_id, CAST(j AS INT) AS j,
             CAST((j // 3) * 6 + j % 3 AS INT) AS src
      FROM b, UNNEST(range(0, {_RSZ_OW * _RSZ_OH * 3})) AS t(j)
    ),
    bytes AS (
      SELECT ob.doc_id, ob.j,
             CASE WHEN ob.src < b.n THEN
               (strpos('0123456789abcdef', substr(b.hx, CAST(2 * ob.src + 1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * ob.src + 2 AS INT), 1)) - 1)
             ELSE 0 END AS bv
      FROM ob JOIN b USING (doc_id)
    ),
    stats AS (
      SELECT doc_id,
             MAX(CASE WHEN j = 0 THEN bv END) AS first_byte,
             SUM(bv) AS total,
             SUM((j + 1) * bv) AS weighted
      FROM bytes GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(62 AS INT) AS n_bytes,
           '424D3E00' AS header_hex,
           CAST({_RSZ_OW} AS VARCHAR) || ',' || CAST({_RSZ_OH} AS VARCHAR) || ','
             || CAST(first_byte AS VARCHAR) || ','
             || CAST(total AS VARCHAR) || ','
             || CAST(weighted AS VARCHAR) AS feature_csv
    FROM stats
    """,
    tags=("multimodal", "pandas-udf", "codec", "resize"),
    doc="Real nearest-neighbor BMP resize, source-position checksum oracle.",
)
def multimodal_bmp_resize(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        bmp_feature_decoder,
        encode_media_as_bmp,
        extract_features,
        resize_media,
    )
    from fotmobdatapipeline_spark.multimodal.bmp import resize_bmp

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    bmp = encode_media_as_bmp(media, width=_RSZ_SW, height=_RSZ_SH)
    small = resize_media(bmp, width=_RSZ_OW, height=_RSZ_OH, resizer=resize_bmp)
    feats = extract_features(small, decoder=bmp_feature_decoder)
    return feats.select(
        "doc_id",
        "n_bytes",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("long").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Multimodal VIDEO demux + per-frame decode: a container of complete
# BMP frames (multimodal/bmp.py encode_bmp_stream — the MJPEG idea with
# BMP as the frame codec) is REALLY demuxed by walking each frame's
# header-declared file size (split_bmp_stream), sampled every 2nd frame
# up to 3, and each sampled frame is REALLY decoded to its pixel stats.
# Frame k's pixels are the document's byte window at k*12 (2x2 px), so
# a splitter that mis-slices a boundary or a decoder that forgets the
# row flip shifts the windows and breaks the position-weighted
# checksums the oracle recomputes from the text column.  Frame size
# 54 + 2*8 = 70 bytes => header_hex '424D4600' pins the per-frame
# container; sampled provenance (frame_idx 0,2,4) pins the stride.
# --------------------------------------------------------------------------
_VID_W, _VID_H, _VID_FRAMES = 2, 2, 6
_VID_EVERY, _VID_MAX = 2, 3


@register(
    "multimodal_video_frames",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    fb AS (
      SELECT doc_id, CAST(j AS INT) AS frame_idx, CAST(i AS INT) AS i,
             CASE WHEN {_VID_W * _VID_H * 3} * j + i < n THEN
               (strpos('0123456789abcdef',
                  substr(hx, CAST(2 * ({_VID_W * _VID_H * 3} * j + i) + 1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef',
                  substr(hx, CAST(2 * ({_VID_W * _VID_H * 3} * j + i) + 2 AS INT), 1)) - 1)
             ELSE 0 END AS bv
      FROM b,
           UNNEST([0, 2, 4]) AS s(j),
           UNNEST(range(0, {_VID_W * _VID_H * 3})) AS t(i)
    ),
    stats AS (
      SELECT doc_id, frame_idx,
             MAX(CASE WHEN i = 0 THEN bv END) AS first_byte,
             SUM(bv) AS total,
             SUM((i + 1) * bv) AS weighted
      FROM fb GROUP BY doc_id, frame_idx
    )
    SELECT doc_id, frame_idx,
           CAST(70 AS INT) AS n_bytes,
           '424D4600' AS header_hex,
           CAST({_VID_W} AS VARCHAR) || ',' || CAST({_VID_H} AS VARCHAR) || ','
             || CAST(first_byte AS VARCHAR) || ','
             || CAST(total AS VARCHAR) || ','
             || CAST(weighted AS VARCHAR) AS feature_csv
    FROM stats
    """,
    tags=("multimodal", "pandas-udf", "codec", "video", "demux"),
    doc="Real BMP-stream demux + per-frame decode, window checksum oracle.",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        bmp_feature_decoder,
        encode_media_as_bmp_stream,
        extract_frame_features,
        sample_frames,
        split_bmp_stream,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    video = encode_media_as_bmp_stream(
        media, width=_VID_W, height=_VID_H, n_frames=_VID_FRAMES
    )
    frames = sample_frames(
        video, every_n=_VID_EVERY, max_frames=_VID_MAX, splitter=split_bmp_stream
    )
    feats = extract_frame_features(frames, decoder=bmp_feature_decoder)
    return feats.select(
        "doc_id",
        "frame_idx",
        "n_bytes",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("long").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Multimodal AUDIO decode: the WAV/PCM twin of multimodal_bmp_decode, so
# the tier covers a second real modality.  Each document's byte PAIRS
# become signed little-endian int16 samples packed into a genuine
# RIFF/WAVE container (multimodal/wav.py) by one Arrow stage; a second
# stage DECODES it — walking the RIFF chunks, re-reading the samples
# sign-correctly — and summarizes them with exact integer stats.  The
# oracle recomputes the SIGNED sample sums from the text column's hex
# alone, so a decoder that misses the sign convention, byte order, or
# chunk layout breaks the position-weighted checksum.  N=30 samples
# (60 bytes) straddles this corpus's 48..553-byte texts, so both the
# zero-pad and the truncate paths occur — and keeps the worst-case
# |weighted| = 32768 * N(N+1)/2 = 15,237,120 under float32's exact-
# integer bound 2^24 (the feature column is ArrayType(FloatType); at
# N=32 a dense-high-byte document could round).  Container size
# 44 + 2N; header 'RIFF' = 52494646 pins the format itself.
# --------------------------------------------------------------------------
_WAV_RATE, _WAV_N = 8000, 30


@register(
    "multimodal_wav_decode",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    smp AS (
      SELECT doc_id, CAST(j AS INT) AS j,
             (CASE WHEN 2 * j < n THEN
                (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 2 AS INT), 1)) - 1)
              ELSE 0 END)
           + 256 * (CASE WHEN 2 * j + 1 < n THEN
                (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 3 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 4 AS INT), 1)) - 1)
              ELSE 0 END) AS u
      FROM b, UNNEST(range(0, {_WAV_N})) AS t(j)
    ),
    sgn AS (
      SELECT doc_id, j,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      FROM smp
    ),
    stats AS (
      SELECT doc_id,
             MAX(CASE WHEN j = 0 THEN s END) AS first_sample,
             SUM(s) AS total,
             SUM((j + 1) * s) AS weighted
      FROM sgn GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({44 + 2 * _WAV_N} AS INT) AS n_bytes,
           '52494646' AS header_hex,
           CAST({_WAV_RATE} AS VARCHAR) || ',' || CAST({_WAV_N} AS VARCHAR) || ','
             || CAST(first_sample AS VARCHAR) || ','
             || CAST(total AS VARCHAR) || ','
             || CAST(weighted AS VARCHAR) AS feature_csv
    FROM stats
    """,
    tags=("multimodal", "pandas-udf", "codec", "decode", "audio"),
    doc="Real WAV/PCM encode->decode roundtrip, signed-sample checksum oracle.",
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_wav,
        extract_features,
        wav_feature_decoder,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    wav = encode_media_as_wav(media, sample_rate=_WAV_RATE, n_samples=_WAV_N)
    feats = extract_features(wav, decoder=wav_feature_decoder)
    return feats.select(
        "doc_id",
        "n_bytes",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("long").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Multimodal resize: 1-in-1-out Arrow-batched payload transform with the
# deterministic stand-in scaler (truncate/zero-pad to width*height —
# shape-correct byte math, so the WHOLE resized payload is verifiable
# as hex against SQL: truncation AND padding paths both occur at 16x8
# on this corpus, byte lengths 48..553).
# --------------------------------------------------------------------------
@register(
    "multimodal_resize",
    oracle="""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id, 128 AS n_bytes, 16 AS width, 8 AS height,
           substr(hx, 1, 256) || repeat('00', greatest(0, 128 - n))
             AS payload_hex
    FROM b
    """,
    tags=("multimodal", "pandas-udf", "resize"),
    doc="Arrow-batched media resize (stub scaler), full payload hex-verified.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        resize_media,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    resized = resize_media(media, width=16, height=8)
    return resized.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.hex("payload").alias("payload_hex"),
    )


# --------------------------------------------------------------------------
# Multimodal frame sampling: 1 video row -> N frame rows inside the Arrow
# batch (no join/shuffle).  Splitter is the deterministic demuxer stub;
# per-frame byte counts are SQL-reproducible, so this one has an oracle.
# --------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
             UNNEST(range(0, least(
               CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT), 32), 4)) AS idx
      FROM documents
    )
    SELECT doc_id, CAST(idx AS INT) AS frame_idx,
           CAST(least(64, n - idx * 64) AS INT) AS n_bytes
    FROM f
    """,
    tags=("multimodal", "pandas-udf", "frames"),
    doc="Video-style frame sampling via in-batch fan-out (mapInPandas).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import attach_binary_payload, sample_frames

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return sample_frames(media, every_n=4, max_frames=8).select(
        "doc_id", "frame_idx", "n_bytes"
    )


# --------------------------------------------------------------------------
# Context-window chunking (functions/chunking.py): corpus -> overlapping
# training windows, aggregated per (source, lang) so the gate checks
# every chunk's text via the hash without a million-row compare.
# --------------------------------------------------------------------------
@register(
    "text_chunk_windows",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id,
             CAST(s // 48 AS INT) AS chunk_idx,
             CAST(LEAST(64, len(t) - s) AS INT) AS n_tokens,
             array_to_string(list_slice(t, s + 1, s + LEAST(64, len(t) - s)), ' ')
               AS chunk_text
      FROM tok, UNNEST(range(0, len(t), 48)) AS u(s)
    )
    SELECT doc_id, chunk_idx, n_tokens, chunk_text FROM chunks
    """,
    tags=("text", "llmdata", "chunking"),
    doc="Overlapping context-window chunking, native HOF path.",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.functions.chunking import chunk_windows

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(chunk_windows(F.col("text"))).alias("c")
        )
        .select("doc_id", "c.chunk_idx", "c.n_tokens", "c.chunk_text")
    )


# --------------------------------------------------------------------------
# END-TO-END training-data prep pipeline: normalize -> dedup (canonical
# doc per normalized text) -> quality filter -> context-window chunking
# -> leakage-proof hash split -> per-(split, band) corpus accounting.
# Every stage is a component proven exact on its own elsewhere in this
# catalog (text_normalize_dedup, text_quality, text_chunk_windows,
# split_assignment); this entry proves the COMPOSITION stays exact.
#
# Scale shape: one shuffle for the normalize-dedup groupBy, one explode
# (map-side) for chunking, one final aggregate.  The hash split and
# quality scoring are pure map-side expressions; nothing re-sorts or
# re-shuffles the corpus between stages.
# --------------------------------------------------------------------------
@register(
    "llm_prep_pipeline",
    oracle=rf"""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id, norm FROM n GROUP BY norm),
    scored AS (
      SELECT doc_id, norm,
             CAST(len(list_filter(string_split(norm, ' '),
                       x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
               / CAST(len(string_split(norm, ' ')) AS DOUBLE) AS stop_ratio,
             CAST(len(list_distinct(string_split(norm, ' '))) AS DOUBLE)
               / CAST(len(string_split(norm, ' ')) AS DOUBLE) AS diversity
      FROM canon
    ),
    kept AS (
      SELECT doc_id, norm,
             CASE WHEN stop_ratio >= 0.05 AND diversity >= 0.5 THEN 'high'
                  WHEN stop_ratio > 0.0 OR diversity >= 0.3 THEN 'medium'
                  ELSE 'low' END AS band
      FROM scored
      WHERE NOT (stop_ratio < 0.05 AND (stop_ratio <= 0.0 AND diversity < 0.3))
    ),
    ck AS (SELECT doc_id, band, string_split(norm, ' ') AS t FROM kept),
    chunks AS (
      SELECT doc_id, band, CAST(LEAST(64, len(t) - s) AS INT) AS n_tokens
      FROM ck, UNNEST(range(0, len(t), 48)) AS u(s)
    )
    SELECT CASE WHEN {_SQL_DOC_BUCKET} < 205 THEN 'train'
                WHEN {_SQL_DOC_BUCKET} < 230 THEN 'val'
                ELSE 'test' END AS split,
           band,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM chunks GROUP BY 1, 2
    """,
    tags=("llmdata", "pipeline", "flagship"),
    doc="Full prep pipeline composed of individually-proven stages.",
)
def llm_prep_pipeline(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.functions.chunking import chunk_windows
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    # stop/div are functions of the grouping key, so computing them
    # PRE-shuffle and carrying them through the aggregate (any_value of
    # an all-equal group is deterministic) is value-identical — and it
    # pins their evaluation count at ONE per input row.  Computed after
    # the agg they get re-inlined by projection collapse + filter
    # pushdown into every consumer (band's CASE references each twice,
    # the band filter doubles it again = 4 evaluations of an
    # interpreted-HOF ratio; the r13 sf10 audit measured this entry at
    # 95 s, ~55 s of it exactly these re-evaluations).
    stop = T.stopword_ratio(F.col("norm"))
    div = T.distinct_word_ratio(F.col("norm"))
    canon = (
        docs.select("doc_id", norm.alias("norm"), stop.alias("stop"), div.alias("div"))
        .groupBy("norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.any_value("stop").alias("stop"),
            F.any_value("div").alias("div"),
        )
    )
    kept = canon.select(
        "doc_id",
        "norm",
        T.quality_band(F.col("stop"), F.col("div")).alias("band"),
    ).filter(F.col("band") != "low")
    chunks = kept.select(
        "doc_id", "band", F.explode(chunk_windows(F.col("norm"))).alias("c")
    )
    bucket = hash_bucket_256(F.col("doc_id"))
    split = (
        F.when(bucket < 205, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        chunks.select(
            split.alias("split"), "band", "doc_id", F.col("c.n_tokens").alias("n_tokens")
        )
        .groupBy("split", "band")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------------
# BPE-style pretokenization: the GPT-2-ish run classes (letter runs,
# digit runs, punctuation runs, whitespace runs) — the unit a BPE merge
# table operates on.  One alternation regex, identical in both engines
# (simple enough to behave the same under Java regex and RE2).
# --------------------------------------------------------------------------
_BPE_PAT = r"[a-z]+|[0-9]+|[^a-z0-9 ]+| +"


@register(
    "text_bpe_pretokenize",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS INT) AS n_pretokens,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_word_runs,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_digit_runs,
           CAST(len(regexp_extract_all(text, '[^a-z0-9 ]+')) AS INT) AS n_other_runs
    FROM documents
    """,
    tags=("text", "tokens", "bpe"),
    doc="BPE pretokenizer run counts (letter/digit/punct/space classes).",
)
def text_bpe_pretokenize(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    t = F.col("text")

    def n_matches(pat: str):
        # regexp_count, not size(regexp_extract_all): identical
        # non-overlapping match count from the same engine/pattern
        # without materializing every match string.  Measured honestly
        # in the r13 sf10 audit: 34.3 -> 32.5 s — the cost is the four
        # full-text regex SCANS themselves, not allocation, so the
        # entry is documented-bound instead: map-side only, zero
        # shuffles, linear in rows (~65 µs/doc for 4 passes), with the
        # 40x+ ratio an artifact of the ~0.5 s sf0.1 overhead floor.
        return F.regexp_count(t, F.lit(pat)).cast("int")

    return docs.select(
        "doc_id",
        n_matches(_BPE_PAT).alias("n_pretokens"),
        n_matches("[a-z]+").alias("n_word_runs"),
        n_matches("[0-9]+").alias("n_digit_runs"),
        n_matches("[^a-z0-9 ]+").alias("n_other_runs"),
    )


# --------------------------------------------------------------------------
# Sequence packing: context-window chunks -> fixed token-budget training
# sequences (contiguous packing in deterministic (doc_id, chunk_idx)
# order).  The running token total comes from the distributed two-phase
# prefix sum (operators/prefix.py) — NOT a single-partition global
# window; the oracle's SUM() OVER (ORDER BY) is what that operator
# replaces at scale.
# --------------------------------------------------------------------------
_PACK_BUDGET = 512


@register(
    "pack_sequences",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    chunks AS (
      SELECT doc_id, CAST(s // 48 AS INT) AS chunk_idx,
             CAST(LEAST(64, len(t) - s) AS INT) AS n_tokens
      FROM tok, UNNEST(range(0, len(t), 48)) AS u(s)
    ),
    run AS (
      SELECT doc_id, chunk_idx, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id, chunk_idx
                                 ROWS UNBOUNDED PRECEDING) AS running
      FROM chunks
    )
    SELECT CAST((running - n_tokens) // {_PACK_BUDGET} AS INT) AS seq_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM run GROUP BY 1
    """,
    tags=("llmdata", "packing", "scale"),
    doc="Token-budget sequence packing via distributed prefix sum.",
)
def pack_sequences(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.functions.chunking import chunk_windows
    from fotmobdatapipeline_spark.operators.prefix import pack_by_budget, running_sum

    docs = read_table(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id", F.explode(chunk_windows(F.col("text"))).alias("c")
    ).select("doc_id", "c.chunk_idx", "c.n_tokens")
    run = running_sum(chunks, ["doc_id", "chunk_idx"], "n_tokens")
    return (
        run.withColumn(
            "seq_id", pack_by_budget(F.col("running"), F.col("n_tokens"), _PACK_BUDGET)
        )
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------------
# Dedup tier 3c: LSH candidates verified with exact Jaccard — the
# two-stage shape that makes exact near-dup affordable at corpus scale
# (operators/dedup.py::verified_lsh_dups).
# --------------------------------------------------------------------------
@register(
    "dedup_lsh_verified",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    in_play AS (
      SELECT doc_a AS doc_id FROM cands UNION SELECT doc_b FROM cands
    ),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok
           WHERE doc_id IN (SELECT doc_id FROM in_play)),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b, m.common,
           CAST(m.common AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - m.common AS DOUBLE) AS jaccard
    FROM cands c
    JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """,
    tags=("dedup", "lsh", "jaccard"),
    doc="Candidate->verify two-stage near-dup: exact scores, bounded work.",
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str):
    return D.verified_lsh_dups(
        read_table(spark, sf_dir, "documents"),
        num_hashes=_LSH_HASHES,
        max_band_df=_LSH_BAND_DF,
    )


# --------------------------------------------------------------------------
# Deterministic fixed-SIZE per-stratum sample: the k documents with the
# smallest content hash per source.  This is also the bottom-k sketch —
# union/intersection of bottom-k sets estimates corpus overlap, and the
# sample is stable across engines, partitionings, and re-runs.
# --------------------------------------------------------------------------
_BOTTOMK = 10


@register(
    "sample_bottomk",
    oracle=f"""
    SELECT source, doc_id, h
    FROM (
      SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_BOTTOMK}
    """,
    tags=("sampling", "sketch"),
    doc="Bottom-k content-hash sample: fixed-size, deterministic, mergeable.",
)
def sample_bottomk(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import bounded_topk_per_group

    docs = read_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    # two-phase distributed bottom-k (round 12): 10 sources over the
    # whole corpus would otherwise mean 10 single-task sorts
    return bounded_topk_per_group(
        docs.select("source", "doc_id", h.alias("h")),
        ["source"],
        [F.col("h"), F.col("doc_id")],
        _BOTTOMK,
    )


# --------------------------------------------------------------------------
# Per-group reservoir sample (operators/sampling.py::reservoir_per_group):
# exactly min(k, |group|) rows per (source, lang) stratum, bottom-k by
# salted md5 priority.  The fixed-SIZE counterpart of stratified_sample's
# fixed-RATE draw; a new salt is a fresh epoch redraw.
# --------------------------------------------------------------------------
_RESERVOIR_K = 3
_RESERVOIR_SALT = "7"


@register(
    "sample_reservoir",
    oracle=f"""
    SELECT source, lang, doc_id
    FROM (
      SELECT source, lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY md5('{_RESERVOIR_SALT}:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
    """,
    tags=("sampling", "reservoir"),
    doc="Per-group reservoir: fixed-size-k salted bottom-k per stratum.",
)
def sample_reservoir(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import reservoir_per_group

    docs = read_table(spark, sf_dir, "documents")
    return reservoir_per_group(
        docs.select("source", "lang", "doc_id"),
        group_cols=("source", "lang"),
        key="doc_id",
        k=_RESERVOIR_K,
        salt=_RESERVOIR_SALT,
    )


# --------------------------------------------------------------------------
# Training-data global shuffle (operators/sampling.py::shuffle_shard,
# sinks.write_shuffled_shards): deterministic md5-salted permutation ->
# uniform shards.  Any shard subset is an unbiased subsample; a new salt
# is a fresh epoch reshuffle with zero RNG state.
# --------------------------------------------------------------------------
_SHUFFLE_SALT = "7"
_N_SHUFFLE_SHARDS = 8


def _sql_salted_md5() -> str:
    return f"md5('{_SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR))"


_SQL_HEX32 = _sql_hex32("skey")


@register(
    "shuffle_shards",
    oracle=f"""
    WITH k AS (
      SELECT source, {_sql_salted_md5()} AS skey FROM documents
    ),
    s AS (
      SELECT source, skey,
             ({_SQL_HEX32}) % {_N_SHUFFLE_SHARDS} AS shard_big
      FROM k
    )
    SELECT CAST(shard_big AS INT) AS shard, COUNT(*) AS n_docs,
           MIN(skey) AS min_key, MAX(skey) AS max_key,
           COUNT(DISTINCT source) AS n_sources
    FROM s GROUP BY 1
    """,
    tags=("training-data", "shuffle"),
    doc="Deterministic global-shuffle shard assignment + balance stats.",
)
def shuffle_shards(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import shuffle_key, shuffle_shard

    docs = read_table(spark, sf_dir, "documents")
    key = F.col("doc_id")
    return (
        docs.select(
            shuffle_shard(key, _N_SHUFFLE_SHARDS, _SHUFFLE_SALT).alias("shard"),
            shuffle_key(key, _SHUFFLE_SALT).alias("skey"),
            "source",
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("skey").alias("min_key"),
            F.max("skey").alias("max_key"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# --------------------------------------------------------------------------
# Iterative graph op: PageRank centrality over the near-dup candidate
# graph (operators/graph.py) — ranks hub documents in duplicate
# neighborhoods.  VALUE-EXACT oracle (round 3): the operator's
# DECIMAL(38,18) message passing rounds HALF_UP at Spark's derived
# scales (divide->18, 0.85*x->16, +0.15->15, cast->18); the oracle
# replays all 5 iterations in HUGEINT units of 1e-18 where HALF_UP(a/b)
# is (2a+b)//(2b) — bit-identical, no float ever enters.  The final
# decimal->double cast is replayed by building the exact decimal string
# and casting that (two-step hugeint->double-divide would double-round).
# --------------------------------------------------------------------------
_PAGERANK_ITERS = 5


def _pagerank_oracle(
    iters: int = _PAGERANK_ITERS, edges_cte: str | None = None
) -> str:
    """Exact-decimal PageRank replay; ``edges_cte`` overrides the graph
    (a full ``WITH``-prefix ending in an ``edges(src, dst)`` CTE) —
    default is the LSH candidate graph.  The iteration/rounding math is
    graph-independent, so text_textrank_keywords reuses it verbatim on
    the word co-occurrence graph."""
    rounds = []
    for k in range(iters):
        rounds.append(
            f"""s{k} AS (
      SELECT e.dst AS node, SUM((2*r.u + d.deg) // (2*d.deg)) AS su
      FROM edges e JOIN deg d ON e.src = d.src JOIN r{k} r ON r.node = e.src
      GROUP BY e.dst
    ),
    r{k + 1} AS (
      SELECT n.node,
             ((2*((170*COALESCE(s.su, 0) + 10000) // 20000
                  + 1500000000000000) + 10) // 20) * 1000 AS u
      FROM nodes n LEFT JOIN s{k} s ON s.node = n.node
    )"""
        )
    if edges_cte is None:
        edges_cte = f"""WITH tok AS ({_SQL_TOK}),
    sig AS (SELECT doc_id, {_lsh_sigs} FROM tok),
    bands AS ({_lsh_bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_id = b.band_id
                  AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
      )
    )"""
    return f"""
    {edges_cte},
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
      )
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, CAST('1000000000000000000' AS HUGEINT) AS u FROM nodes),
    {",".join(rounds)}
    SELECT node, CAST(CAST(u // 1000000000000000000 AS VARCHAR) || '.' ||
           lpad(CAST(u % 1000000000000000000 AS VARCHAR), 18, '0') AS DOUBLE)
           AS rank_approx
    FROM r{iters}
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative"),
    doc="PageRank over LSH candidate pairs; exact-decimal determinism.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import pagerank

    pairs = _lsh_pairs_shared(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    ranked = pagerank(edges, iters=_PAGERANK_ITERS)
    return ranked.select("node", F.col("rank").cast("double").alias("rank_approx"))


# --------------------------------------------------------------------------
# K-core decomposition over the same LSH candidate graph: the dense-
# region extractor (template farms / boilerplate cliques survive k-core
# peeling; incidental chain-shaped collisions peel away) — the third
# member of the graph-audit family after PageRank and triangles.
# Fixed-round peeling replayed verbatim by the oracle; every round's
# CTEs are AS MATERIALIZED because e{r+1} references k{r} twice (both
# endpoints) and default inlining would double the tree per round.
# --------------------------------------------------------------------------
_KCORE_K = 3
_KCORE_ROUNDS = 6


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    steps = []
    for r in range(rounds):
        steps.append(
            f"""k{r} AS MATERIALIZED (
      SELECT src FROM e{r} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    e{r + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{r} e
      JOIN k{r} a ON a.src = e.src JOIN k{r} b ON b.src = e.dst
    )"""
        )
    return f"""
    WITH tok AS ({_SQL_TOK}),
    sig AS (SELECT doc_id, {_lsh_sigs} FROM tok),
    bands AS ({_lsh_bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_id = b.band_id
                  AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
      )
    ),
    {",".join(steps)}
    SELECT src AS doc_id, COUNT(*) AS core_deg
    FROM e{rounds} GROUP BY src HAVING COUNT(*) >= {k}
    """


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative"),
    doc="K-core peeling over LSH candidate pairs; fixed-round exact replay.",
)
def graph_kcore(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import kcore

    return kcore(
        _lsh_pairs_shared(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS
    )


# --------------------------------------------------------------------------
# Heavy hitters via a DataFrame-native count-min sketch (operators/
# sketches.py).  Unlike Spark's opaque-binary count_min_sketch aggregate,
# the sketch here IS a (sketch_row, bucket, cnt) DataFrame with portable
# md5 bucket hashing — so the estimates are reproducible in DuckDB and
# the whole query is hash-exact: the oracle rebuilds the identical
# sketch, probes the same exact top-10 words, and must land on the same
# min-over-rows estimates.  never_undercounts pins the CMS one-sided
# error guarantee as data, not just a comment.
# --------------------------------------------------------------------------
_CMS_SQL_DEPTH_ROWS = "[0, 1, 2, 3]"


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS k FROM documents),
    exact AS (
      SELECT k, COUNT(*) AS exact_n FROM tok GROUP BY k
      ORDER BY exact_n DESC, k ASC LIMIT 10
    ),
    keyed AS (SELECT k, UNNEST({_CMS_SQL_DEPTH_ROWS}) AS r FROM tok),
    kh AS (
      SELECT r, substr(md5('cms' || CAST(r AS VARCHAR) || ':' || k), 1, 8) AS h8
      FROM keyed
    ),
    kb AS (SELECT r, ({_sql_hex32("h8")}) % 256 AS b FROM kh),
    cms AS (SELECT r, b, COUNT(*) AS cnt FROM kb GROUP BY r, b),
    probes AS (SELECT k, exact_n, UNNEST({_CMS_SQL_DEPTH_ROWS}) AS r FROM exact),
    ph AS (
      SELECT k, exact_n, r,
             substr(md5('cms' || CAST(r AS VARCHAR) || ':' || k), 1, 8) AS h8
      FROM probes
    ),
    pb AS (SELECT k, exact_n, r, ({_sql_hex32("h8")}) % 256 AS b FROM ph)
    SELECT pb.k AS word, pb.exact_n, MIN(cms.cnt) AS cms_est,
           MIN(cms.cnt) >= pb.exact_n AS never_undercounts
    FROM pb JOIN cms ON pb.r = cms.r AND pb.b = cms.b
    GROUP BY pb.k, pb.exact_n
    """,
    tags=("sketch", "heavy-hitters", "text"),
    doc="Count-min sketch heavy hitters, estimates hash-exact vs SQL.",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import (
        cms_estimate,
        count_min_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("k"))
    # r14: collapse the token stream to vocab-sized exact counts ONCE,
    # then build the sketch from the weighted counts (count_min_table's
    # weight_col path — bucket counts are sums of their keys' counts, so
    # the sketch is bit-identical) and reuse the same counts for the
    # exact top-10.  Before: the corpus was tokenized twice and the
    # sketch hashed depth x every raw token instead of depth x vocab.
    # (No checkpoint: both consumers share ONE final plan, where the
    # count aggregate's exchange is reused — a persist measured 2.4x
    # slower than letting ReusedExchange do it.)
    tok_counts = tok.groupBy("k").agg(F.count("*").alias("exact_n"))
    cms = count_min_table(tok_counts, "k", weight_col="exact_n")
    top = tok_counts.orderBy(F.desc("exact_n"), F.asc("k")).limit(10)
    return cms_estimate(cms, top, "k").select(
        F.col("k").alias("word"),
        "exact_n",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_n")).alias("never_undercounts"),
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch (operators/sketches.py):
# the bottom-k story's sketch sibling — distinct-word cardinality from
# the k smallest portable md5 hash values.  Unlike approx_count_distinct
# (opaque HLL binary, engine-specific), the sketch IS a DataFrame and
# the estimate is one IEEE division of exact integers, so the oracle is
# value-exact; the exact distinct count rides along so the estimate's
# error is visible as data.
# --------------------------------------------------------------------------
@register(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH w AS (SELECT DISTINCT UNNEST(string_split(text, ' ')) AS k FROM documents),
    dh AS (
      SELECT DISTINCT {_sql_hex32("substr(md5('kmv:' || k), 1, 8)")} AS h FROM w
    ),
    bk AS (SELECT h FROM dh ORDER BY h LIMIT {_KMV_K}),
    agg AS (SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_hash FROM bk),
    ex AS (SELECT COUNT(*) AS exact_distinct FROM w)
    SELECT n_sketch, kth_hash,
           CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE)
                ELSE {float((_KMV_K - 1) * 2 ** 32)} / kth_hash END AS est_distinct,
           exact_distinct
    FROM agg, ex
    """,
    tags=("sketch", "distinct", "text"),
    doc="KMV distinct sketch: bottom-k hash cardinality estimate, exact twin alongside.",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import kmv_estimate, kmv_sketch

    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    est = kmv_estimate(kmv_sketch(words, "w", k=_KMV_K), k=_KMV_K)
    exact = words.agg(F.countDistinct("w").alias("exact_distinct"))
    return est.crossJoin(exact)


# --------------------------------------------------------------------------
# HyperLogLog registers as a DataFrame (operators/sketches.py): the
# third distinct-sketch (KMV = exact small range, HLL = constant-space
# large range, exact COUNT(DISTINCT) = the oracle-grade truth).  The
# rank is trailing-zeros+1 (same geometric law as the paper's
# leading-zero rank) computed by an integer CASE chain — log2/bit-scan
# builtins aren't bit-portable; integer modulus is.  Every 2^-rho term
# is an exact power of two and the 64-term fixed-order fold never
# rounds, so even the DOUBLE estimate is hash-exact cross-engine.
# --------------------------------------------------------------------------
_HLL_ALPHA_M2 = repr(0.709 * 64 * 64)
_HLL_RHO_CASE = "CASE WHEN w = 0 THEN 27 " + " ".join(
    f"WHEN w % {2 ** k} = {2 ** (k - 1)} THEN {k}" for k in range(1, 27)
) + " END"


@register(
    "sketch_hll_distinct",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wd AS (SELECT DISTINCT UNNEST(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS k FROM tok),
    h AS (SELECT {_sql_hex32("substr(md5('hll:' || k), 1, 8)")} AS h FROM wd),
    rw AS (SELECT CAST(h % 64 AS INT) AS reg_idx, h // 64 AS w FROM h),
    regs AS (SELECT reg_idx, MAX({_HLL_RHO_CASE}) AS max_rho FROM rw GROUP BY reg_idx),
    f AS (
      SELECT COUNT(*) AS n_touched,
             list_reduce(
               list_transform(list(max_rho ORDER BY reg_idx),
                              r -> CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << r)),
               (p, q) -> p + q) AS sum_touched
      FROM regs
    ),
    ex AS (SELECT COUNT(*) AS exact_distinct FROM wd)
    SELECT n_touched,
           sum_touched + CAST(64 - n_touched AS DOUBLE) AS sum_inv,
           CAST({_HLL_ALPHA_M2} AS DOUBLE)
             / (sum_touched + CAST(64 - n_touched AS DOUBLE)) AS est_distinct,
           exact_distinct
    FROM f, ex
    """,
    tags=("sketch", "distinct", "hll", "text"),
    doc="HyperLogLog distinct estimate over 3-gram shingles, exact twin alongside.",
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    docs = read_table(spark, sf_dir, "documents")
    # 3-gram shingles: a universe big enough (10^3-10^4) for the raw
    # estimator's ~1.04/sqrt(m) regime; the word vocab (~30) is KMV's
    # exact-small-range territory.
    sh = docs.select(
        F.explode(D.word_shingles(F.col("text"), 3)).alias("w")
    )
    est = hll_estimate(hll_registers(sh, "w"))
    exact = sh.agg(F.countDistinct("w").alias("exact_distinct"))
    return est.crossJoin(exact)


# --------------------------------------------------------------------------
# Bloom filter as a DataFrame (operators/sketches.py): (word_idx, bits)
# 32-bit words in BIGINTs, bit_or-combined map-side — the membership
# primitive behind pre-join pruning and O(1) decontamination probes.
# Unlike Spark's bloom_filter_agg (opaque engine binary) the filter is
# queryable, mergeable, and bit-reproducible in ANSI SQL.  Probe entry
# pins the no-false-negative guarantee as data (10 member + 10 absent
# probe keys).
# --------------------------------------------------------------------------
_BLOOM_M = 8192  # ~3 bits/key at sf0.01's 446 distinct texts -> FP ~0.3%


def _sql_bloom_pos(key_expr: str, j: int) -> str:
    """DuckDB twin of sketches._bloom_positions hash j: 32-bit chunk j
    of md5('bloom:' || key) mod m."""
    chunk = f"substr(md5('bloom:' || {key_expr}), {j * 8 + 1}, 8)"
    return f"({_sql_hex32(chunk)}) % {_BLOOM_M}"


_BLOOM_POS_UNION = "\n      UNION ALL ".join(
    f"SELECT {_sql_bloom_pos('k', j)} AS p FROM keys" for j in range(3)
)
_BLOOM_BUILD = f"""keys AS (SELECT DISTINCT text AS k FROM documents),
    pos AS (
      {_BLOOM_POS_UNION}
    ),
    bf AS (
      SELECT CAST(p // 32 AS INT) AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
      FROM pos GROUP BY 1
    )"""


@register(
    "sketch_bloom_filter",
    oracle=f"""
    WITH {_BLOOM_BUILD}
    SELECT word_idx, bits FROM bf
    """,
    tags=("sketch", "bloom", "dedup"),
    doc="Bloom filter build over distinct document texts, as (word_idx, bits) words.",
)
def sketch_bloom_filter(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import bloom_filter_table

    docs = read_table(spark, sf_dir, "documents")
    return bloom_filter_table(
        docs.select(F.col("text").alias("k")).distinct(), "k", m_bits=_BLOOM_M
    )


_BLOOM_PROBES = (
    "probes AS (SELECT text AS k FROM documents WHERE doc_id < 10 "
    "UNION ALL SELECT 'absent-probe-' || CAST(range AS VARCHAR) FROM range(10))"
)
_BLOOM_PROBE_POS = "\n      UNION ALL ".join(
    f"SELECT k, {_sql_bloom_pos('k', j)} AS p FROM probes" for j in range(3)
)


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH {_BLOOM_BUILD},
    {_BLOOM_PROBES},
    pp AS (
      {_BLOOM_PROBE_POS}
    ),
    hits AS (
      SELECT k, CAST(p // 32 AS INT) AS word_idx,
             CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS mask
      FROM pp
    )
    SELECT k, CAST(MIN(CASE WHEN (COALESCE(bf.bits, 0) & hits.mask) = hits.mask
                            THEN 1 ELSE 0 END) AS BOOLEAN) AS maybe_member
    FROM hits LEFT JOIN bf ON hits.word_idx = bf.word_idx
    GROUP BY k
    """,
    tags=("sketch", "bloom", "dedup"),
    doc="Bloom membership probes: members always true, absent keys (almost) always false.",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import (
        bloom_filter_table,
        bloom_probe,
    )

    docs = read_table(spark, sf_dir, "documents")
    bf = bloom_filter_table(
        docs.select(F.col("text").alias("k")).distinct(), "k", m_bits=_BLOOM_M
    )
    members = docs.filter(F.col("doc_id") < 10).select(F.col("text").alias("k"))
    absent = spark.range(10).select(
        F.concat(F.lit("absent-probe-"), F.col("id").cast("string")).alias("k")
    )
    return bloom_probe(bf, members.unionByName(absent), "k", m_bits=_BLOOM_M)


# --------------------------------------------------------------------------
# Bigram language-model counts: P(w2 | w1) for the corpus's top bigrams
# — the n-gram LM training primitive (and the conditional-surprise
# signal quality filters build on).  Exact integer counts from one
# explode + lead() over the per-doc window (never global); the only
# double is the final ratio of two exact integers, which IEEE-divides
# identically in any engine.  The w1-marginal join is vocab-cardinality
# on both sides.
# --------------------------------------------------------------------------
@register(
    "text_bigram_lm",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    pairs AS (
      SELECT b.w1 AS w1, b.w2 AS w2 FROM (
        SELECT UNNEST(list_transform(range(1, len(t)),
                      i -> {'w1': t[i], 'w2': t[i+1]})) AS b
        FROM tok
      )
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS pair_count FROM pairs GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS left_count FROM pairs GROUP BY w1)
    SELECT c12.w1, c12.w2, pair_count, left_count,
           CAST(pair_count AS DOUBLE) / left_count AS cond_prob
    FROM c12 JOIN c1 USING (w1)
    ORDER BY pair_count DESC, w1 ASC, w2 ASC LIMIT 20
    """,
    tags=("text", "ngram", "lm", "llmdata"),
    doc="Bigram LM: exact P(w2|w1) for the top-20 corpus bigrams.",
)
def text_bigram_lm(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("w1", "w2")
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
    # The w1-marginal is the SUM of the bigram counts — derive it from
    # c12 (vocab^2-cardinality) instead of re-aggregating `pairs`, which
    # would re-execute the corpus explode+window lineage a second time.
    c12 = share(c12)
    c1 = c12.groupBy("w1").agg(F.sum("pair_count").alias("left_count"))
    return (
        c12.join(c1, "w1")
        .select(
            "w1",
            "w2",
            "pair_count",
            "left_count",
            (F.col("pair_count").cast("double") / F.col("left_count")).alias(
                "cond_prob"
            ),
        )
        .orderBy(F.desc("pair_count"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Gopher-style repetition / degeneracy signals: type-token ratio, top-
# word mass, duplicate-bigram fraction — the filters that catch looping
# generators and boilerplate.  Counts come from ONE explode + two hash
# aggregates (bigrams via lead() over the per-doc window, which
# partitions by doc — never a global window); the only doubles are
# final ratios of exact integers, mirrored verbatim in the oracle.
# --------------------------------------------------------------------------
@register(
    "text_repetition_signals",
    oracle="""
    WITH tok AS (
      SELECT doc_id, pos, w FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      )
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
    words AS (
      SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct, MAX(c) AS top_n
      FROM wc GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
             w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      FROM tok
    ),
    bigrams AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             COUNT(DISTINCT bigram) AS n_distinct_bigrams
      FROM bg WHERE bigram IS NOT NULL GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(w.n_words AS BIGINT) AS n_words,
           CAST(w.n_distinct AS DOUBLE) / CAST(w.n_words AS DOUBLE) AS ttr,
           CAST(w.top_n AS DOUBLE) / CAST(w.n_words AS DOUBLE) AS top_word_frac,
           CAST(b.n_bigrams - b.n_distinct_bigrams AS DOUBLE)
             / CAST(b.n_bigrams AS DOUBLE) AS dup_bigram_frac,
           (CAST(w.top_n AS DOUBLE) / CAST(w.n_words AS DOUBLE) > 0.1
            OR CAST(b.n_bigrams - b.n_distinct_bigrams AS DOUBLE)
                 / CAST(b.n_bigrams AS DOUBLE) > 0.3) AS is_repetitive
    FROM words w JOIN bigrams b ON w.doc_id = b.doc_id
    """,
    tags=("text", "quality", "llmdata"),
    doc="Repetition/degeneracy signals: TTR, top-word mass, dup bigrams.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    words = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_n"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        "doc_id",
        F.concat_ws(" ", "w", F.lead("w").over(wdoc)).alias("bigram"),
        F.lead("w").over(wdoc).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    bigrams = bg.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.countDistinct("bigram").alias("n_distinct_bigrams"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    ttr = dd("n_distinct") / dd("n_words")
    top_frac = dd("top_n") / dd("n_words")
    dup_bg = (dd("n_bigrams") - dd("n_distinct_bigrams")) / dd("n_bigrams")
    return (
        words.join(bigrams, "doc_id")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            ttr.alias("ttr"),
            top_frac.alias("top_word_frac"),
            ((dd("n_bigrams") - dd("n_distinct_bigrams")) / dd("n_bigrams"))
            .alias("dup_bigram_frac"),
            ((top_frac > 0.1) | (dup_bg > 0.3)).alias("is_repetitive"),
        )
    )


# --------------------------------------------------------------------------
# PII-style scrubbing: regex redaction of emails/phones with per-doc
# match accounting.  Patterns are dialect-portable (character classes +
# bounded repetition only — identical under Java regex and RE2); counts
# use size(regexp_extract_all) on both sides because DuckDB has no
# regexp_count.  The contact strings are derived deterministically from
# the table in BOTH engines, so the redaction itself is what's compared.
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "text_redact_contacts",
    oracle=f"""
    WITH msg AS (
      SELECT doc_id,
             'user' || CAST(doc_id AS VARCHAR) || '@mail.com call 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
               || substr(text, 1, 40) AS m
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(m, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(m, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(m, '{_PHONE_RE}')) AS INT) AS n_phones
    FROM msg
    """,
    tags=("text", "redaction", "regex", "llmdata"),
    doc="Regex PII scrubbing with match accounting, dialect-portable.",
)
def text_redact_contacts(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    m = F.concat(
        F.lit("user"), F.col("doc_id").cast("string"), F.lit("@mail.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"), F.lit(" "),
        F.substring("text", 1, 40),
    )
    msg = docs.select("doc_id", m.alias("m"))
    return msg.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("m", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("redacted"),
        F.size(F.regexp_extract_all("m", F.lit(_EMAIL_RE), 0)).cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all("m", F.lit(_PHONE_RE), 0)).cast("int").alias("n_phones"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: training docs sharing ANY 3-gram with the
# eval slice (doc_id % 50 == 0 here) are flagged by a broadcast
# semi-join on the eval shingle set — the training corpus is never
# shuffled.  The overlap op test-set leakage audits are built from.
# --------------------------------------------------------------------------
@register(
    "decontaminate_train",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS s FROM tok),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    tr AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
    hits AS (
      SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (s)
      WHERE sh.doc_id % 50 <> 0
    )
    SELECT tr.doc_id, hits.doc_id IS NOT NULL AS is_contaminated
    FROM tr LEFT JOIN hits ON tr.doc_id = hits.doc_id
    """,
    tags=("dedup", "decontamination", "llmdata"),
    doc="Eval-set decontamination via broadcast shingle semi-join.",
)
def decontaminate_train(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    # Both sides' shingles are filters of the shared per-session
    # shingle frame (r15): one corpus text decode instead of one per
    # side (the id-only train scan remains, cheap).
    sh = _shingles_shared(spark, sf_dir)
    return D.decontaminate(
        train, eval_df,
        train_shingles=sh.filter(F.col("doc_id") % 50 != 0),
        eval_shingles=sh.filter(F.col("doc_id") % 50 == 0),
    )


@register(
    "decontaminate_matrix",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS s FROM tok),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    shared AS (
      SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh JOIN ev USING (s) WHERE sh.doc_id % 50 <> 0
      GROUP BY sh.doc_id
    ),
    base AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE COALESCE(n_shared, 0) > 0) AS BIGINT)
             AS n_contaminated,
           CAST(SUM(COALESCE(n_shared, 0)) AS BIGINT) AS total_shared,
           CAST(MAX(COALESCE(n_shared, 0)) AS BIGINT) AS max_shared
    FROM base LEFT JOIN shared USING (doc_id) GROUP BY source
    """,
    tags=("dedup", "decontamination", "llmdata"),
    doc="Per-source contamination severity matrix vs the eval set.",
)
def decontaminate_matrix(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    sh = _shingles_shared(spark, sf_dir)
    return D.contamination_matrix(
        train, eval_df,
        train_shingles=sh.filter(F.col("doc_id") % 50 != 0),
        eval_shingles=sh.filter(F.col("doc_id") % 50 == 0),
    )


# --------------------------------------------------------------------------
# Triangle counts over the LSH candidate graph: local clustering signal
# (dense near-dup neighborhoods triangle-heavily; chains don't).  Edges
# oriented low->high so each triangle enumerates exactly once through
# two hash joins — no cartesian, fan-out bounded by oriented degree.
# --------------------------------------------------------------------------
@register(
    "graph_triangle_counts",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    tri AS (
      SELECT ab.doc_a AS x, ab.doc_b AS y, bc.doc_b AS z
      FROM pairs ab
      JOIN pairs bc ON ab.doc_b = bc.doc_a
      JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
    ),
    nodes AS (SELECT UNNEST([x, y, z]) AS doc_id FROM tri)
    SELECT doc_id, COUNT(*) AS n_triangles FROM nodes GROUP BY doc_id
    """,
    tags=("graph", "triangles", "lsh"),
    doc="Oriented-edge triangle counting on the near-dup graph.",
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import triangle_counts

    return triangle_counts(_lsh_pairs_shared(spark, sf_dir))


# --------------------------------------------------------------------------
# Dedup tier 4c: threshold Jaccard via prefix filtering (SSJoin/PPJoin).
# Lossless vs the naive all-pairs join — the oracle IS the naive
# quadratic form at the same threshold, so candidates-super-set +
# exact-verify must reproduce it row-for-row.  The scale story vs the
# df-capped tier: identical semantics to the exact join, with the index
# shrunk to each doc's (1-t) rarest-token prefix.
# --------------------------------------------------------------------------
_PREFIX_T = 0.6


@register(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH tok AS ({_SQL_TOK}),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM tok),
    ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, common,
           CAST(common AS DOUBLE)
             / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(common AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= {_PREFIX_T}
    """,
    tags=("dedup", "jaccard", "prefix"),
    doc="Lossless prefix-filtered threshold Jaccard join (PPJoin shape).",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str):
    return D.prefix_filter_pairs(
        read_table(spark, sf_dir, "documents"), threshold=_PREFIX_T
    )


# --------------------------------------------------------------------------
# Corpus-level lexical diversity per source: Simpson concentration,
# Gini diversity, and effective vocabulary (inverse Simpson).  Shannon
# entropy is the textbook choice but log() is NOT bit-portable across
# libm implementations; Simpson/Gini need only +,*,/ over EXACT integer
# power sums (Σc, Σc²), so the final doubles are identical in any
# engine — the determinism-first substitute a cross-engine pipeline
# should prefer.  Two aggregates, both map-side combinable.
# --------------------------------------------------------------------------
@register(
    "text_diversity_simpson",
    oracle="""
    WITH wc AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents
      ) GROUP BY source, w
    ),
    agg AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM wc GROUP BY source
    )
    SELECT source, n_tokens, n_distinct,
           CAST(sum_c2 AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS simpson,
           1 - CAST(sum_c2 AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS gini,
           (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
             / CAST(sum_c2 AS DOUBLE) AS effective_vocab
    FROM agg
    """,
    tags=("text", "quality", "llmdata"),
    doc="Per-source Simpson/Gini diversity from exact integer power sums.",
)
def text_diversity_simpson(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    wc = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    agg = wc.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    n_d = F.col("n_tokens").cast("double")
    c2_d = F.col("sum_c2").cast("double")
    simpson = c2_d / (n_d * n_d)
    return agg.select(
        "source",
        "n_tokens",
        "n_distinct",
        simpson.alias("simpson"),
        (F.lit(1) - simpson).alias("gini"),
        ((n_d * n_d) / c2_d).alias("effective_vocab"),
    )


# --------------------------------------------------------------------------
# BPE merge-pair counting — the inner loop of tokenizer TRAINING: count
# adjacent character pairs across the corpus, weighted by word
# frequency, exactly what picks the next merge rule.  Scale shape: the
# pair generation runs over the DISTINCT word table (vocab-cardinality,
# bounded) with corpus counts attached, not over raw tokens — at 100 TB
# the distinct-word aggregate is the only corpus-sized shuffle, and both
# aggregates are map-side combinable.  Top-20 with pair tiebreak = the
# first merges a real BPE trainer would take.
# --------------------------------------------------------------------------
@register(
    "text_bpe_merge_pairs",
    oracle="""
    WITH words AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT UNNEST(regexp_extract_all(text, '[a-z]+')) AS w FROM documents
      ) GROUP BY w
    ),
    pairs AS (
      SELECT UNNEST(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair,
             c
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair ASC
    LIMIT 20
    """,
    tags=("text", "tokens", "bpe", "llmdata"),
    doc="Weighted adjacent-pair counts over the distinct-word table.",
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Retrieval tier: inverted-index stats (+ rare-term posting lists) and
# BM25-variant ranked retrieval.  Scores are ln-free (rational idf) so
# both engines compute bit-identical doubles — see operators/retrieval.py.
# --------------------------------------------------------------------------
def _D(x: float) -> str:
    """A Python double as an unambiguous DuckDB DOUBLE literal (a bare
    1.2 parses as DECIMAL there, changing the arithmetic type lattice)."""
    return f"CAST({x!r} AS DOUBLE)"


_BM25_TERMS = ("dup", "vector", "key")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle(terms=_BM25_TERMS, k1=_BM25_K1, b=_BM25_B, k=10) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    avglen = "(CAST(c.total_len AS DOUBLE) / CAST(c.n_docs AS DOUBLE))"
    idf = f"(c.n_docs - f.df + {_D(0.5)}) / (f.df + {_D(0.5)})"
    denom = (
        f"t.tf + {_D(k1)} * ({_D(1.0)} - {_D(b)} + {_D(b)} * "
        f"(CAST(d.dl AS DOUBLE) / {avglen}))"
    )
    pivots = ",\n           ".join(
        f"MAX(CASE WHEN term = '{t}' THEN contrib END) AS c{i}"
        for i, t in enumerate(terms)
    )
    score = _D(0.0)
    for i in range(len(terms)):
        score = f"({score} + COALESCE(c{i}, {_D(0.0)}))"
    return f"""
    WITH occ AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
           WHERE term IN ({in_list}) GROUP BY term, doc_id),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
    dfb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    per AS (
      SELECT t.doc_id, t.term,
             (({idf}) * (t.tf * {_D(k1 + 1.0)})) / ({denom}) AS contrib
      FROM tf t JOIN dfb f ON t.term = f.term
      JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN corpus c
    ),
    pivoted AS (
      SELECT doc_id, {pivots}
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, {score} AS score FROM pivoted
    ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


# --------------------------------------------------------------------------
# WIDE-query BM25: the per-term-column limit of text_bm25_topk
# (COVERAGE "Known limits" — plan width grows with |Q|) closed: the
# per-doc score folds the matched contributions sorted by term, so a
# 100-term query costs one tiny per-doc sort instead of 100 plan
# columns.  12-term query here; fold order = term order, replayed by
# the oracle's list(contrib ORDER BY term) + list_reduce (0.0-init vs
# first-element-init agree exactly on strictly-positive contributions).
# --------------------------------------------------------------------------
_BM25_WIDE_TERMS = (
    "join", "hash", "row", "batch", "scan", "column",
    "filter", "merge", "vector", "key", "stream", "window",
)


def _bm25_wide_oracle(terms=_BM25_WIDE_TERMS, k1=_BM25_K1, b=_BM25_B,
                      k=10) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    avglen = "(CAST(c.total_len AS DOUBLE) / CAST(c.n_docs AS DOUBLE))"
    idf = f"(c.n_docs - f.df + {_D(0.5)}) / (f.df + {_D(0.5)})"
    denom = (
        f"t.tf + {_D(k1)} * ({_D(1.0)} - {_D(b)} + {_D(b)} * "
        f"(CAST(d.dl AS DOUBLE) / {avglen}))"
    )
    return f"""
    WITH occ AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
           WHERE term IN ({in_list}) GROUP BY term, doc_id),
    dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
    dfb AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    per AS (
      SELECT t.doc_id, t.term,
             (({idf}) * (t.tf * {_D(k1 + 1.0)})) / ({denom}) AS contrib
      FROM tf t JOIN dfb f ON t.term = f.term
      JOIN dl d ON t.doc_id = d.doc_id
      CROSS JOIN corpus c
    ),
    folded AS (
      SELECT doc_id, CAST(COUNT(*) AS INT) AS n_matched,
             list_reduce(list(contrib ORDER BY term), (a, v) -> a + v)
               AS score
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_matched, score FROM folded
    ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


@register(
    "text_bm25_wide",
    oracle=_bm25_wide_oracle(),
    tags=("text", "retrieval", "topk", "llmdata"),
    doc="Wide-query BM25: term-sorted sequential fold, plan width O(1) in |Q|.",
)
def text_bm25_wide(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import bm25_topk_wide

    return bm25_topk_wide(
        read_table(spark, sf_dir, "documents"),
        list(_BM25_WIDE_TERMS),
        k=10,
        k1=_BM25_K1,
        b=_BM25_B,
    )


@register(
    "text_inverted_index",
    oracle="""
    WITH occ AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
                 FROM documents),
    tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
           GROUP BY term, doc_id),
    stats AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS total_tf,
             MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      FROM tf GROUP BY term
    ),
    rare AS (
      SELECT term,
             array_to_string(list_sort(list(doc_id)), ',') AS rare_posting_csv
      FROM tf
      WHERE term IN (SELECT term FROM stats WHERE df <= 64)
      GROUP BY term
    )
    SELECT s.term, s.df, s.total_tf, s.min_doc_id, s.max_doc_id,
           r.rare_posting_csv
    FROM stats s LEFT JOIN rare r ON s.term = r.term
    """,
    tags=("text", "retrieval", "llmdata"),
    doc="Inverted-index stats; posting lists (rare terms only) emitted as "
    "a comma-joined string so the result surface is scalar-typed — the "
    "driver's pandas canonicalizer cannot sort list-typed cells "
    "(r10 CORRECTNESS failure; VERDICT.md r10 item 2).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import inverted_index_stats

    stats = inverted_index_stats(
        read_table(spark, sf_dir, "documents"), rare_df_cap=64
    )
    return stats.withColumn(
        "rare_posting_csv",
        F.array_join(F.col("rare_posting_ids").cast("array<string>"), ","),
    ).drop("rare_posting_ids")


@register(
    "text_bm25_topk",
    oracle=_bm25_oracle(),
    tags=("text", "retrieval", "topk", "llmdata"),
    doc="BM25-variant (rational-idf) top-10 docs for a fixed term set.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        read_table(spark, sf_dir, "documents"),
        list(_BM25_TERMS),
        k=10,
        k1=_BM25_K1,
        b=_BM25_B,
    )


# --------------------------------------------------------------------------
# Sentence-level exact dedup (C4/RefinedWeb line dedup): first occurrence
# of every sentence corpus-wide wins; docs are rebuilt from survivors.
# Segmenter = fixed 8-word windows (this corpus has no punctuation); the
# oracle replays segmentation, first-occurrence (row_number — fine at
# oracle scale; the Spark side uses the map-side-combinable min-struct
# aggregate to stay skew-safe), and ordered reconstruction.
# --------------------------------------------------------------------------
_SENT_W = 8
_SQL_SENT_SEGS = (
    "list_transform("
    f"range(0, CAST(ceil(len(string_split(text, ' ')) / {_SENT_W}.0) AS INT)), "
    "i -> {'seg_idx': i, 'sentence': array_to_string("
    f"string_split(text, ' ')[i*{_SENT_W}+1 : i*{_SENT_W}+{_SENT_W}], ' ')}})"
)


@register(
    "text_sentence_dedup",
    oracle=f"""
    WITH segd AS (
      SELECT doc_id, p.seg_idx AS seg_idx, p.sentence AS sentence FROM (
        SELECT doc_id, UNNEST({_SQL_SENT_SEGS}) AS p FROM documents
      )
    ),
    kept AS (
      SELECT doc_id, seg_idx, sentence FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY sentence ORDER BY doc_id, seg_idx) AS rk
        FROM segd
      ) WHERE rk = 1
    ),
    totals AS (
      SELECT doc_id,
             CAST(ceil(len(string_split(text, ' ')) / {_SENT_W}.0) AS INT)
               AS n_sentences
      FROM documents
    )
    SELECT k.doc_id AS doc_id, t.n_sentences AS n_sentences,
           CAST(COUNT(*) AS INT) AS n_kept,
           string_agg(k.sentence, ' ' ORDER BY k.seg_idx) AS text_dedup
    FROM kept k JOIN totals t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id, t.n_sentences
    """,
    tags=("dedup", "text", "llmdata"),
    doc="C4-style corpus-wide sentence dedup with doc reconstruction.",
)
def text_sentence_dedup(spark: SparkSession, sf_dir: str):
    return D.sentence_dedup(
        read_table(spark, sf_dir, "documents"), words_per_sentence=_SENT_W
    )


# --------------------------------------------------------------------------
# INTRA-document sentence dedup: repeated sentences dropped within each
# doc only (first occurrence kept); cross-doc sharing untouched.  Every
# shuffle key carries the doc id — no corpus-wide hot key exists.
# --------------------------------------------------------------------------
@register(
    "text_intradoc_dedup",
    oracle=f"""
    WITH segd AS (
      SELECT doc_id, p.seg_idx AS seg_idx, p.sentence AS sentence FROM (
        SELECT doc_id, UNNEST({_SQL_SENT_SEGS}) AS p FROM documents
      )
    ),
    kept AS (
      SELECT doc_id, MIN(seg_idx) AS seg_idx, sentence
      FROM segd GROUP BY doc_id, sentence
    ),
    totals AS (
      SELECT doc_id, CAST(MAX(seg_idx) + 1 AS INT) AS n_sentences
      FROM segd GROUP BY doc_id
    )
    SELECT k.doc_id AS doc_id, t.n_sentences AS n_sentences,
           CAST(COUNT(*) AS INT) AS n_kept,
           string_agg(k.sentence, ' ' ORDER BY k.seg_idx) AS text_intradoc
    FROM kept k JOIN totals t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id, t.n_sentences
    """,
    tags=("dedup", "text", "llmdata"),
    doc="Within-document repeated-sentence removal (first occurrence kept).",
)
def text_intradoc_dedup(spark: SparkSession, sf_dir: str):
    return D.intradoc_sentence_dedup(
        read_table(spark, sf_dir, "documents"), words_per_sentence=_SENT_W
    )


# --------------------------------------------------------------------------
# FUZZY sentence dedup: sentence_dedup keyed on the sentence's MinHash
# signature (4 chunks of salt-0 md5 over 2-gram shingles) instead of the
# exact string, so near-identical boilerplate collapses.  Sub-shingle
# sentences have no signature ('' key) and pass through.  DuckDB replays
# the signature exactly (concat() treats the all-NULL chunk list of an
# empty shingle set as '', matching Spark's concat_ws).
# --------------------------------------------------------------------------
_SNEAR_CHUNKS = ", ".join(
    f"list_aggregate(list_transform(sh2, s -> substr(md5('{j // 4}:' || s), {(j % 4) * 8 + 1}, 8)), 'min')"
    for j in range(4)
)


@register(
    "text_sentence_neardup",
    oracle=f"""
    WITH segd AS (
      SELECT doc_id, p.seg_idx AS seg_idx, p.sentence AS sentence FROM (
        SELECT doc_id, UNNEST({_SQL_SENT_SEGS}) AS p FROM documents
      )
    ),
    sg AS (
      SELECT doc_id, seg_idx, sentence,
             list_distinct(list_transform(range(1, len(st)),
                                          i -> st[i] || ' ' || st[i + 1])) AS sh2
      FROM (SELECT *, string_split(sentence, ' ') AS st FROM segd)
    ),
    sig AS (
      SELECT doc_id, seg_idx, sentence, concat({_SNEAR_CHUNKS}) AS sig FROM sg
    ),
    kept AS (
      SELECT doc_id, seg_idx, sentence FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY sig ORDER BY doc_id, seg_idx) AS rk
        FROM sig WHERE sig <> ''
      ) WHERE rk = 1
      UNION ALL
      SELECT doc_id, seg_idx, sentence FROM sig WHERE sig = ''
    ),
    totals AS (
      SELECT doc_id, CAST(MAX(seg_idx) + 1 AS INT) AS n_sentences
      FROM segd GROUP BY doc_id
    )
    SELECT k.doc_id AS doc_id, t.n_sentences AS n_sentences,
           CAST(COUNT(*) AS INT) AS n_kept,
           string_agg(k.sentence, ' ' ORDER BY k.seg_idx) AS text_neardup
    FROM kept k JOIN totals t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id, t.n_sentences
    """,
    tags=("dedup", "text", "minhash", "llmdata"),
    doc="Fuzzy (MinHash-keyed) sentence dedup with doc reconstruction.",
)
def text_sentence_neardup(spark: SparkSession, sf_dir: str):
    return D.sentence_neardup(
        read_table(spark, sf_dir, "documents"), words_per_sentence=_SENT_W
    )


_BPE_TRAIN_ROUNDS = 6


def _bpe_train_oracle(n_rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    """Unrolled-SQL replay of the iterative BPE trainer: the same N
    rounds of (count weighted adjacent pairs -> take argmax with
    (lft, rgt) tiebreak -> greedily apply the merge) that the Spark
    driver loop performs, as N chained CTEs.  Symbols are kept in a
    '<sym><sym>' string form so plain string ``replace`` gives exactly
    BPE's greedy left-to-right non-overlapping merge in BOTH engines,
    with the '<'/'>' wrappers preventing any cross-symbol false match."""
    return _bpe_train_oracle_over("FROM documents", n_rounds)


def _bpe_ctes(from_clause: str, n_rounds: int) -> str:
    """The shared CTE chain both BPE oracles build on: distinct words ->
    N rounds of (pair count -> argmax -> greedy merge).  Carries the raw
    word ``w`` through every round so the encode oracle can key its
    output; the train oracle simply ignores it."""
    parts = [
        f"""words0 AS (
      SELECT w, regexp_replace(w, '(.)', '<\\1>', 'g') AS seq, c FROM (
        SELECT w, COUNT(*) AS c FROM (
          SELECT UNNEST(regexp_extract_all(text, '[a-z]+')) AS w {from_clause}
        ) GROUP BY w
      )
    )"""
    ]
    for k in range(n_rounds):
        parts.append(
            f"""pairs{k} AS (
      SELECT p.lft AS lft, p.rgt AS rgt, c FROM (
        SELECT UNNEST(list_transform(range(1, array_length(syms)),
                      i -> {{'lft': syms[i], 'rgt': syms[i+1]}})) AS p, c
        FROM (SELECT regexp_extract_all(seq, '<([a-z]+)>', 1) AS syms, c
              FROM words{k})
      )
    ),
    best{k} AS (
      SELECT CAST({k} AS INT) AS step, lft, rgt,
             CAST(SUM(c) AS BIGINT) AS pair_count
      FROM pairs{k} GROUP BY lft, rgt
      ORDER BY pair_count DESC, lft ASC, rgt ASC LIMIT 1
    ),
    words{k + 1} AS (
      SELECT w, replace(seq, '<' || b.lft || '><' || b.rgt || '>',
                     '<' || b.lft || b.rgt || '>') AS seq, c
      FROM words{k}, best{k} b
    )"""
        )
    return "WITH " + ",\n    ".join(parts)


def _bpe_train_oracle_over(from_clause: str, n_rounds: int) -> str:
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM best{k}" for k in range(n_rounds)
    )
    return (
        _bpe_ctes(from_clause, n_rounds)
        + f"\n    SELECT step, lft, rgt, pair_count FROM ({union}) ORDER BY step"
    )


@register(
    "text_bpe_train",
    oracle=_bpe_train_oracle(),
    tags=("text", "tokens", "bpe", "llmdata", "iterative"),
    doc="Iterative BPE trainer: N rounds of count->argmax->greedy merge.",
)
def text_bpe_train(spark: SparkSession, sf_dir: str):
    """Tokenizer training proper: text_bpe_merge_pairs computes ROUND-1
    counts; this runs the full loop — apply the best merge, recount —
    for _BPE_TRAIN_ROUNDS rounds.  The driver loops and collects ONE row
    per round (the argmax); the word table stays distributed throughout.

    Scale shape: the only corpus-sized shuffle is the distinct-word
    aggregate, done once and shared (vocab-cardinality,
    executor-resident).  Each round is a map (string replace) + one
    map-side-combining aggregate over the vocab table, so N rounds cost
    N vocab-sized jobs, never N corpus passes.  Symbol sequences use the
    '<sym>' wrapped-string form so a plain (JVM codegen) string replace
    implements BPE's greedy left-to-right non-overlapping merge — no
    UDF; the oracle replays the identical algorithm as unrolled SQL."""
    docs = read_table(spark, sf_dir, "documents")
    return bpe_train_merges(spark, docs, _BPE_TRAIN_ROUNDS)


def bpe_train_merges(spark: SparkSession, docs, n_rounds: int):
    """The trainer loop proper (see :func:`text_bpe_train`): returns one
    row per round — (step, lft, rgt, pair_count) — for any DataFrame
    with a ``text`` column."""
    merges, _ = _bpe_train_loop(docs, n_rounds)
    return spark.createDataFrame(
        merges, "step int, lft string, rgt string, pair_count bigint"
    )


def _bpe_train_loop(docs, n_rounds: int):
    """Shared trainer core: returns (merges list, final word table).  The
    word table keeps the raw word ``w`` alongside the evolving wrapped
    ``seq`` so :func:`bpe_encode_words` can emit the word -> tokens map
    without re-deriving it."""
    words = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .select("w", F.regexp_replace("w", "(.)", "<$1>").alias("seq"), "c")
        .transform(share)
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    for step in range(n_rounds):
        syms = F.regexp_extract_all(F.col("seq"), F.lit("<([a-z]+)>"), F.lit(1))
        pairs = (
            cur.select(syms.alias("syms"), "c")
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("lft"),
                            F.element_at(F.col("syms"), i + 1).alias("rgt"),
                        ),
                    )
                ).alias("p"),
                "c",
            )
            .select("p.lft", "p.rgt", "c")
        )
        top = (
            pairs.groupBy("lft", "rgt")
            .agg(F.sum("c").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lft"), F.asc("rgt"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lft, rgt, cnt = top[0]["lft"], top[0]["rgt"], int(top[0]["pair_count"])
        merges.append((step, lft, rgt, cnt))
        cur = cur.withColumn(
            "seq",
            F.replace(
                F.col("seq"), F.lit(f"<{lft}><{rgt}>"), F.lit(f"<{lft}{rgt}>")
            ),
        )
    return merges, cur


def bpe_encode_words(docs, n_rounds: int):
    """BPE APPLICATION — tokenize the corpus with the trained merges:
    the word -> tokens map every document's tokenization joins against.

    Output: (word, tokens space-joined, n_tokens, freq) for every
    distinct lowercase word.  The merges are applied exactly as trained
    (greedy left-to-right non-overlapping string replace, one per round
    in rank order), so train and encode cannot disagree.

    Scale shape: the map is vocab-cardinality (the only corpus-sized
    shuffle is the distinct-word aggregate the trainer already does, and
    the N replaces are narrow column ops over that table — plan
    literals, no UDF, no extra shuffle).  Tokenizing the full 100 TB
    corpus is then a broadcast join of documents' exploded words against
    this map; a production tokenizer with ~50k merge rounds would swap
    the chained replaces for one Arrow-batched mapInPandas pass over the
    vocab table (vocab-sized, NOT corpus-sized — the asymptotics don't
    change)."""
    _, cur = _bpe_train_loop(docs, n_rounds)
    toks = F.regexp_extract_all(F.col("seq"), F.lit("<([a-z]+)>"), F.lit(1))
    return cur.select(
        F.col("w").alias("word"),
        F.array_join(toks, " ").alias("tokens"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.col("c").alias("freq"),
    )


def _bpe_encode_oracle(n_rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    toks = "regexp_extract_all(seq, '<([a-z]+)>', 1)"
    return (
        _bpe_ctes("FROM documents", n_rounds)
        + f"""
    SELECT w AS word, array_to_string({toks}, ' ') AS tokens,
           CAST(array_length({toks}) AS INT) AS n_tokens,
           CAST(c AS BIGINT) AS freq
    FROM words{n_rounds}"""
    )


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("text", "tokens", "bpe", "llmdata"),
    doc="BPE application: trained merges -> word-to-tokens corpus map.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return bpe_encode_words(docs, _BPE_TRAIN_ROUNDS)


def _tokenize_docs_oracle(n_rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    toks = "regexp_extract_all(seq, '<([a-z]+)>', 1)"
    return (
        _bpe_ctes("FROM documents", n_rounds)
        + f""",
    wmap AS (SELECT w AS word, CAST(array_length({toks}) AS INT) AS wt
             FROM words{n_rounds}),
    occ AS (SELECT doc_id, UNNEST(regexp_extract_all(text, '[a-z]+')) AS word
            FROM documents)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wt) AS BIGINT) AS n_tokens
    FROM occ JOIN wmap USING (word) GROUP BY doc_id"""
    )


@register(
    "text_tokenize_docs",
    oracle=_tokenize_docs_oracle(),
    tags=("text", "tokens", "bpe", "llmdata"),
    doc="Per-document token counts under the trained BPE tokenizer.",
)
def text_tokenize_docs(spark: SparkSession, sf_dir: str):
    """The end of the tokenizer story (train -> encode -> APPLY): token
    counts per document under the trained merges — the number every
    budget/packing/mixture decision downstream consumes.

    Scale shape: the word -> n_tokens map is vocab-cardinality and rides
    a broadcast join into the exploded word stream (the corpus is
    scanned once, shuffled only by the final per-doc aggregate, which is
    map-side combinable)."""
    docs = read_table(spark, sf_dir, "documents")
    wmap = bpe_encode_words(docs, _BPE_TRAIN_ROUNDS).select(
        "word", F.col("n_tokens").alias("wt")
    )
    occ = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("word"),
    )
    return (
        occ.join(F.broadcast(wmap), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wt").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): per-subspace codebooks ->
# m-byte codes -> asymmetric-distance (ADC) top-k.  Value-exact oracle:
# each subspace codebook is the deterministic kmeans_lloyd train on the
# dim-slice (fixed-point HUGEINT means), replayed unrolled per subspace
# — the sim_ivf_kmeans_topk technique applied m times — then encoding,
# LUT build, and the sub-ordered sequential score fold, all in SQL.
# --------------------------------------------------------------------------
_PQ_M, _PQ_CODES, _PQ_ITERS, _PQ_DIM = 4, 4, 2, 64


def _pq_chain_ctes(m: int, codes: int, iters: int, d: int) -> list[str]:
    """The per-subspace unrolled k-means chains (sd{s}, c{s}_i, enc{s})
    — they reference an ``en(vec_id, v, nrm)`` CTE the caller provides,
    so the plain-PQ and IVF-PQ oracles share them."""
    parts: list[str] = []
    sub_d = d // m
    qs = ", ".join(
        f"SUM(CAST(trunc(sv[{j}] * 1000000000.0) AS HUGEINT))"
        for j in range(1, sub_d + 1)
    )
    mean = (
        f"list_transform(range(1, {sub_d + 1}), j -> "
        "CAST(m.qs[j] AS DOUBLE) / (CAST(m.n AS DOUBLE) * 1000000000.0))"
    )
    for s in range(m):
        lo, hi = s * sub_d + 1, (s + 1) * sub_d
        parts += [
            f"sd{s} AS (SELECT vec_id, v[{lo}:{hi}] AS sv, "
            f"sqrt({_sql_dot(f'v[{lo}:{hi}]', f'v[{lo}:{hi}]')}) AS nrm FROM en),",
            f"c{s}_0 AS (SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS code, "
            f"sv AS cv, sqrt({_sql_dot('sv', 'sv')}) AS cnorm FROM "
            f"(SELECT vec_id, sv FROM sd{s} ORDER BY vec_id LIMIT {codes})),",
        ]
        for i in range(1, iters + 1):
            parts += [
                f"a{s}_{i} AS (SELECT vec_id, sv, code FROM ("
                f"SELECT d.vec_id, d.sv, c.code, "
                "ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY "
                f"{_sql_dot('d.sv', 'c.cv')} / (d.nrm * c.cnorm) DESC, c.code ASC) AS rk "
                f"FROM sd{s} d CROSS JOIN c{s}_{i - 1} c) WHERE rk = 1),",
                f"m{s}_{i} AS (SELECT code, COUNT(*) AS n, [{qs}] AS qs "
                f"FROM a{s}_{i} GROUP BY code),",
                f"c{s}_{i} AS (SELECT code, cv, sqrt({_sql_dot('cv', 'cv')}) AS cnorm "
                f"FROM (SELECT p.code, CASE WHEN m.code IS NULL THEN p.cv ELSE {mean} "
                f"END AS cv FROM c{s}_{i - 1} p LEFT JOIN m{s}_{i} m ON p.code = m.code)),",
            ]
        parts.append(
            f"enc{s} AS (SELECT vec_id, code FROM ("
            f"SELECT d.vec_id, c.code, "
            "ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY "
            f"{_sql_dot('d.sv', 'c.cv')} / (d.nrm * c.cnorm) DESC, c.code ASC) AS rk "
            f"FROM sd{s} d CROSS JOIN c{s}_{iters} c) WHERE rk = 1),"
        )
    enc_union = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, code FROM enc{s}" for s in range(m)
    )
    parts.append(f"enc AS ({enc_union}),")
    return parts


def _pq_lut_union(m: int, codes: int, iters: int, d: int, q_from: str) -> str:
    """Per-(query, sub, code) LUT rows; ``q_from`` supplies the query
    relation aliased ``q`` with columns (vec_id, v, nrm, ...)."""
    sub_d = d // m
    return " UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, q.nrm AS q_norm, {s} AS sub, c.code, "
        f"{_sql_dot(f'q.v[{s * sub_d + 1}:{(s + 1) * sub_d}]', 'c.cv')} AS pdot, "
        f"{_sql_dot('c.cv', 'c.cv')} AS csq "
        f"FROM {q_from} q CROSS JOIN c{s}_{iters} c"
        for s in range(m)
    )


def _pq_oracle(m: int = _PQ_M, codes: int = _PQ_CODES, iters: int = _PQ_ITERS,
               d: int = _PQ_DIM, k: int = 5) -> str:
    parts = [
        "WITH en AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
        f"sqrt({_sql_dot('embedding', 'embedding')}) AS nrm FROM embeddings),",
    ]
    parts += _pq_chain_ctes(m, codes, iters, d)
    lut_union = _pq_lut_union(
        m, codes, iters, d, "(SELECT * FROM en WHERE vec_id < 10)"
    )
    parts += [
        f"lut AS ({lut_union}),",
        "sc AS (SELECT l.query_id, e.vec_id AS neighbor_id, "
        "list_reduce(list(l.pdot ORDER BY l.sub), (p, q) -> p + q) AS adot, "
        "list_reduce(list(l.csq ORDER BY l.sub), (p, q) -> p + q) AS csum, "
        "MAX(l.q_norm) AS q_norm "
        "FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code "
        "WHERE l.query_id <> e.vec_id GROUP BY l.query_id, e.vec_id)",
        "SELECT query_id, neighbor_id, approx_cos, CAST(rk AS INT) AS rk FROM ("
        "SELECT query_id, neighbor_id, adot / (q_norm * sqrt(csum)) AS approx_cos, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "
        "adot / (q_norm * sqrt(csum)) DESC, neighbor_id ASC) AS rk FROM sc) "
        f"WHERE rk <= {k}",
    ]
    return "\n".join(parts)


def _pq_rerank_oracle(m: int = _PQ_M, codes: int = _PQ_CODES,
                      iters: int = _PQ_ITERS, d: int = _PQ_DIM,
                      shortlist: int = 20, k: int = 5) -> str:
    """Oracle for the PQ-shortlist + exact-rerank pattern: the ADC
    score CTEs are the sim_pq_adc_topk chain verbatim; the shortlist's
    members are then rescored with the EXACT sequential-fold cosine
    and reranked."""
    parts = [
        "WITH en AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, "
        f"sqrt({_sql_dot('embedding', 'embedding')}) AS nrm FROM embeddings),",
    ]
    parts += _pq_chain_ctes(m, codes, iters, d)
    lut_union = _pq_lut_union(
        m, codes, iters, d, "(SELECT * FROM en WHERE vec_id < 10)"
    )
    parts += [
        f"lut AS ({lut_union}),",
        "sc AS (SELECT l.query_id, e.vec_id AS neighbor_id, "
        "list_reduce(list(l.pdot ORDER BY l.sub), (p, q) -> p + q) AS adot, "
        "list_reduce(list(l.csq ORDER BY l.sub), (p, q) -> p + q) AS csum, "
        "MAX(l.q_norm) AS q_norm "
        "FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code "
        "WHERE l.query_id <> e.vec_id GROUP BY l.query_id, e.vec_id),",
        "short AS (SELECT query_id, neighbor_id FROM ("
        "SELECT query_id, neighbor_id, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "
        "adot / (q_norm * sqrt(csum)) DESC, neighbor_id ASC) AS rk FROM sc) "
        f"WHERE rk <= {shortlist}),",
        "ex AS (SELECT s.query_id, s.neighbor_id, "
        f"{_sql_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cos_sim "
        "FROM short s JOIN en q ON q.vec_id = s.query_id "
        "JOIN en c ON c.vec_id = s.neighbor_id)",
        "SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INT) AS rk FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "
        "cos_sim DESC, neighbor_id ASC) AS rk FROM ex) "
        f"WHERE rk <= {k}",
    ]
    return "\n".join(parts)


@register(
    "sim_pq_rerank_topk",
    oracle=_pq_rerank_oracle(),
    tags=("similarity", "pq", "ann", "rerank"),
    doc="PQ-ADC shortlist + exact-cosine rerank (the FAISS refine pattern).",
)
def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str):
    """Two-stage retrieval: the ADC scan (compressed codes only)
    shortlists 20 candidates per query, then exactly those 20 full
    vectors are fetched and rescored with exact cosine for the final
    top-5 — the production recipe that buys back quantization error
    without a full-corpus float scan.  cos_sim is EXACT, so rows are
    directly comparable to sim_bruteforce_topk; a (query, rank) row
    differing between the two is a shortlist miss, priced as data."""
    emb = read_table(spark, sf_dir, "embeddings")
    cb = _trained_codebooks(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, codes=_PQ_CODES,
        iterations=_PQ_ITERS,
    )
    enc = S.pq_encode(emb, cb, dim=_PQ_DIM, m=_PQ_M)
    return S.pq_rerank_topk(
        emb.filter(F.col("vec_id") < 10), cb, enc, emb,
        dim=_PQ_DIM, m=_PQ_M, codes=_PQ_CODES, shortlist=20, k=5,
    )


@register(
    "sim_pq_adc_topk",
    oracle=_pq_oracle(),
    tags=("similarity", "pq", "ann", "kmeans"),
    doc="Product-quantization ADC top-k under trained per-subspace codebooks.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str):
    """PQ pipeline end-to-end: train m per-subspace codebooks (the
    deterministic Lloyd train per slice), encode the corpus to m-code
    arrays, ADC-score the first 10 vectors as queries, top-5 each.

    Scale: the codebook and LUT sides are explicit broadcasts (m*codes
    and |Q| rows); encoding is one corpus scan + two combinable
    aggregates; scoring reads only the m-int codes per candidate.
    Compose with IVF cells (sim_ivf_*) to confine candidates; this
    entry scores the full corpus to make approximation error visible
    against sim_bruteforce_topk on identical queries."""
    emb = read_table(spark, sf_dir, "embeddings")
    cb = _trained_codebooks(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, codes=_PQ_CODES,
        iterations=_PQ_ITERS,
    )
    enc = S.pq_encode(emb, cb, dim=_PQ_DIM, m=_PQ_M)
    return S.pq_adc_topk(
        emb.filter(F.col("vec_id") < 10), cb, enc,
        dim=_PQ_DIM, m=_PQ_M, codes=_PQ_CODES, k=5,
    )


# --------------------------------------------------------------------------
# Dedup tier 2c: banded SimHash candidate pairs + exact Hamming verify.
# Pigeonhole: hamming <= n_bands - 1 guarantees a shared band, so the
# banding is a pure candidate pruner (100% recall at the threshold).
# --------------------------------------------------------------------------
_SIMHASH_HAMMING = " + ".join(
    f"(CASE WHEN substr(sig_a, {i}, 1) <> substr(sig_b, {i}, 1) THEN 1 ELSE 0 END)"
    for i in range(1, _SIMHASH_BITS + 1)
)
# Band-occupancy cap: bands hotter than this are stop patterns and are
# excluded from pair generation (bounds fan-out at max_band_df^2/2 per
# band key at ANY corpus size).
_SIMHASH_BAND_DF = 50


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, md5(tok) AS h FROM tk),
    s AS (SELECT doc_id,
             {_simhash_sums}
          FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, {_simhash_concat} AS simhash FROM s),
    bands AS (SELECT doc_id, simhash, UNNEST([0, 1, 2, 3]) AS band_id FROM sig),
    keyed AS (SELECT doc_id, simhash, band_id,
                     substr(simhash, band_id * 4 + 1, 4) AS band_key FROM bands),
    cool AS (SELECT band_id, band_key FROM keyed
             GROUP BY band_id, band_key HAVING COUNT(*) <= {_SIMHASH_BAND_DF}),
    kk AS (SELECT k.* FROM keyed k JOIN cool USING (band_id, band_key)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sig_a, b.simhash AS sig_b
             FROM kk a JOIN kk b
               ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b, {_SIMHASH_HAMMING} AS hamming FROM cand
    ) WHERE hamming <= 3
    ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT 50
    """,
    tags=("dedup", "simhash", "lsh"),
    doc="Banded SimHash candidates (df-capped bands) + exact Hamming verify.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str):
    """With 16-bit signatures a 4-bit band has 16 keys, so band
    occupancy grows linearly with the corpus and uncapped pair fan-out
    grows QUADRATICALLY — measured 27.9 s at sf0.1 before the cap.
    ``max_band_df`` drops bands hotter than the cap before pair
    generation (the jaccard/fingerprint df-cap doctrine: a band shared
    by everyone is a stop pattern, not a dedup signal; production
    widens bands instead — 64-bit/16-bit bands — which this operator
    also supports).  The catalog row is the bounded closest-50 report.
    """
    pairs = D.simhash_pairs(
        read_table(spark, sf_dir, "documents"),
        n_bits=_SIMHASH_BITS,
        n_bands=4,
        max_hamming=3,
        max_band_df=_SIMHASH_BAND_DF,
    )
    return pairs.orderBy(
        F.asc("hamming"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(50)


# --------------------------------------------------------------------------
# Keyword extraction: per-document top-k terms by TF-IDF (rational
# ln-free idf, ties on term) — topic tags / slice descriptors.
# --------------------------------------------------------------------------
@register(
    "text_tfidf_topterms",
    oracle="""
    WITH tf AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
      ) GROUP BY term, doc_id
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    st AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    w AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf AS DOUBLE) *
             ((CAST(n.n_docs AS DOUBLE) - st.df + 0.5) / (st.df + 0.5)) AS w
      FROM tf JOIN st USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, w, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY w DESC, term ASC) AS rk
      FROM w
    ) WHERE rk <= 3
    """,
    tags=("text", "tfidf", "retrieval"),
    doc="Per-document top-3 TF-IDF keywords.",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(read_table(spark, sf_dir, "documents"), k=3)


# --------------------------------------------------------------------------
# Temperature-scaled mixture weights (mBERT/XLM-R sampling rule, T=2):
# share_g = sqrt(n_g) / sum_h sqrt(n_h), denominator folded in fixed
# group order (sqrt is correctly-rounded IEEE; pow is not — doctrine).
# --------------------------------------------------------------------------
@register(
    "mixture_temperature_weights",
    oracle="""
    WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT list_reduce(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY source),
                             (p, q) -> p + q) AS denom FROM c)
    SELECT source, n_docs,
           sqrt(CAST(n_docs AS DOUBLE)) AS weight,
           sqrt(CAST(n_docs AS DOUBLE)) / denom AS share,
           sqrt(CAST(n_docs AS DOUBLE)) / denom * 10000.0 AS expected_docs
    FROM c CROSS JOIN t
    """,
    tags=("sampling", "mixture", "llmdata"),
    doc="Temperature-2 source mixture shares with a fold-deterministic denominator.",
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import (
        temperature_mixture_weights,
    )

    return temperature_mixture_weights(
        read_table(spark, sf_dir, "documents"), "source", budget=10000
    )


# --------------------------------------------------------------------------
# Dedup tier 1b: exact duplicated-passage stats (Lee et al. 2022
# substring dedup, dataflow form) — per-document fraction covered by
# corpus-repeated gram_len-word windows.
# --------------------------------------------------------------------------
_PASSAGE_L = 8


@register(
    "text_duplicate_passages",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n_words, t FROM tok),
    g AS (SELECT doc_id, UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
          FROM base WHERE n_words >= {_PASSAGE_L}),
    occ AS (SELECT doc_id, pos,
                   md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
            FROM g),
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    cover AS (SELECT DISTINCT doc_id, pos + u.u AS j
              FROM occ JOIN dup USING (gh)
              CROSS JOIN (SELECT UNNEST(range(0, {_PASSAGE_L})) AS u) u),
    runs AS (SELECT doc_id, j,
                    j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS run
             FROM cover),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS dup_words,
                  CAST(COUNT(DISTINCT run) AS INT) AS n_dup_spans
           FROM runs GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
           COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(pd.dup_words, 0) AS dup_words,
           CAST(COALESCE(pd.dup_words, 0) AS DOUBLE) / b.n_words AS dup_frac
    FROM base b LEFT JOIN pd USING (doc_id)
    """,
    tags=("text", "dedup", "passages", "llmdata"),
    doc="Per-document exact duplicated-passage coverage (substring dedup).",
)
def text_duplicate_passages(spark: SparkSession, sf_dir: str):
    return D.duplicate_passage_stats(
        read_table(spark, sf_dir, "documents"), gram_len=_PASSAGE_L
    )


# --------------------------------------------------------------------------
# Gopher-style rule-based quality filter (Rae et al. 2021): per-doc
# pass/fail flags, all exact integer/double compares over HOF counts.
# --------------------------------------------------------------------------
_SQL_STOPHITS = (
    "len(list_filter(string_split(text, ' '), x -> x IN "
    "('the', 'a', 'of', 'and', 'to'))) + "
    "len(list_filter(string_split(text, ' '), x -> x IN "
    "('el', 'la', 'de', 'los', 'y'))) + "
    "len(list_filter(string_split(text, ' '), x -> x IN "
    "('der', 'die', 'das', 'und', 'zu')))"
)


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n,
             CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS awl,
             {_SQL_STOPHITS} AS stop_hits,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS div,
             CAST(len(regexp_extract_all(text, '[0-9]+')) AS DOUBLE)
               / len(string_split(text, ' ')) AS num_frac
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             (n >= 10 AND n <= 1000) AS r_word_count,
             (awl >= 3.0 AND awl <= 10.0) AS r_word_len,
             (stop_hits >= 2) AS r_stopwords,
             (div >= 0.3) AS r_diversity,
             (num_frac <= 0.2) AS r_numeric
      FROM f
    )
    SELECT doc_id, r_word_count, r_word_len, r_stopwords, r_diversity, r_numeric,
           CAST((NOT r_word_count) AS INT) + CAST((NOT r_word_len) AS INT)
           + CAST((NOT r_stopwords) AS INT) + CAST((NOT r_diversity) AS INT)
           + CAST((NOT r_numeric) AS INT) AS n_failed,
           (r_word_count AND r_word_len AND r_stopwords AND r_diversity
            AND r_numeric) AS keep
    FROM r
    """,
    tags=("text", "quality", "llmdata"),
    doc="Gopher-style rule flags with an n_failed count and keep verdict.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    rules = T.gopher_rules(F.col("text"))
    out = docs.select("doc_id", *[c.alias(n) for n, c in rules.items()])
    n_failed = sum(
        (~F.col(n)).cast("int") for n in rules
    )
    keep = None
    for n in rules:
        keep = F.col(n) if keep is None else (keep & F.col(n))
    return out.select(
        "doc_id", *rules.keys(), n_failed.alias("n_failed"), keep.alias("keep")
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language: tokens-per-word under the trained BPE
# merges — the number that decides per-language token budgets (a
# high-fertility language consumes its budget in fewer words).
# --------------------------------------------------------------------------
def _token_fertility_oracle(n_rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    toks = "regexp_extract_all(seq, '<([a-z]+)>', 1)"
    return (
        _bpe_ctes("FROM documents", n_rounds)
        + f""",
    wmap AS (SELECT w AS word, CAST(array_length({toks}) AS INT) AS wt
             FROM words{n_rounds}),
    occ AS (SELECT doc_id, lang,
                   UNNEST(regexp_extract_all(text, '[a-z]+')) AS word
            FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wt) AS BIGINT) AS n_tokens,
           CAST(SUM(wt) AS DOUBLE) / COUNT(*) AS fertility
    FROM occ JOIN wmap USING (word) GROUP BY lang"""
    )


@register(
    "text_token_fertility",
    oracle=_token_fertility_oracle(),
    tags=("text", "tokens", "bpe", "llmdata"),
    doc="Tokens-per-word by language under the trained BPE tokenizer.",
)
def text_token_fertility(spark: SparkSession, sf_dir: str):
    """Scale shape of text_tokenize_docs: the vocab-sized word->tokens
    map broadcasts into the exploded word stream; the per-language
    aggregate is map-side combinable; fertility is one exact-integer
    ratio in double."""
    docs = read_table(spark, sf_dir, "documents")
    wmap = bpe_encode_words(docs, _BPE_TRAIN_ROUNDS).select(
        "word", F.col("n_tokens").alias("wt")
    )
    occ = docs.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), F.lit(0))
        ).alias("word"),
    )
    return (
        occ.join(F.broadcast(wmap), "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("wt").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            (F.col("n_tokens").cast("double") / F.col("n_words")).alias(
                "fertility"
            ),
        )
    )


# --------------------------------------------------------------------------
# Semantic decontamination: train vectors with an eval bucket-mate at
# cosine >= tau (the embedding tier of benchmark decontamination; the
# shingle tier is decontaminate_train/decontaminate_matrix).
# --------------------------------------------------------------------------
@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm,
             {_BUCKET_SQL} AS bucket
      FROM embeddings
    ),
    t AS (SELECT * FROM v WHERE vec_id >= 20),
    e AS (SELECT * FROM v WHERE vec_id < 20),
    s AS (
      SELECT t.vec_id,
             MAX({_sql_dot('t.embedding', 'e.embedding')} / (t.nrm * e.nrm))
               AS max_eval_cos
      FROM t JOIN e USING (bucket)
      GROUP BY t.vec_id
    )
    SELECT t.vec_id, t.bucket, s.max_eval_cos,
           COALESCE(s.max_eval_cos >= 0.9, FALSE) AS contaminated
    FROM t LEFT JOIN s USING (vec_id)
    """,
    tags=("similarity", "decontamination", "llmdata"),
    doc="Embedding-space eval decontamination over sign-LSH buckets.",
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    return S.semantic_decontaminate(
        emb.filter(F.col("vec_id") >= 20),
        emb.filter(F.col("vec_id") < 20),
        tau=0.9,
    )


# --------------------------------------------------------------------------
# IVF-PQ: coarse k-means cells confine candidates, PQ codes + ADC score
# them — the billion-scale ANN layout.  Oracle composes the coarse
# unrolled chain (sim_ivf_kmeans_topk's) with the m subspace chains
# (sim_pq_adc_topk's); both trains are fixed-point bit-reproducible.
# --------------------------------------------------------------------------
def _ivfpq_oracle(
    k_cells: int = 8, c_iters: int = 3, d: int = _PQ_DIM,
    m: int = _PQ_M, codes: int = _PQ_CODES, pq_iters: int = _PQ_ITERS,
    topk: int = 5,
) -> str:
    parts = _kmeans_fin_ctes(k_cells, c_iters, d)
    parts[-1] = parts[-1] + ","
    parts += _pq_chain_ctes(m, codes, pq_iters, d)
    lut = _pq_lut_union(
        m, codes, pq_iters, d, "(SELECT * FROM fin WHERE vec_id < 10)"
    )
    parts += [
        f"lut0 AS ({lut}),",
        "lut AS (SELECT l.*, f.cell FROM lut0 l JOIN fin f ON l.query_id = f.vec_id),",
        "cand AS (SELECT f.vec_id, f.cell, e.sub, e.code "
        "FROM fin f JOIN enc e USING (vec_id)),",
        "sc AS (SELECT l.query_id, MAX(l.cell) AS cell, c.vec_id AS neighbor_id, "
        "list_reduce(list(l.pdot ORDER BY l.sub), (p, q) -> p + q) AS adot, "
        "list_reduce(list(l.csq ORDER BY l.sub), (p, q) -> p + q) AS csum, "
        "MAX(l.q_norm) AS q_norm "
        "FROM cand c JOIN lut l ON c.cell = l.cell AND c.sub = l.sub "
        "AND c.code = l.code "
        "WHERE l.query_id <> c.vec_id GROUP BY l.query_id, c.vec_id)",
        "SELECT query_id, cell, neighbor_id, approx_cos, CAST(rk AS INT) AS rk "
        "FROM (SELECT query_id, cell, neighbor_id, "
        "adot / (q_norm * sqrt(csum)) AS approx_cos, "
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "
        "adot / (q_norm * sqrt(csum)) DESC, neighbor_id ASC) AS rk FROM sc) "
        f"WHERE rk <= {topk}",
    ]
    return "\n".join(parts)


@register(
    "sim_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "ivf", "pq", "ann", "kmeans"),
    doc="IVF-PQ: cell-confined candidates scored from PQ codes via ADC.",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    cb = _trained_codebooks(
        spark, sf_dir, dim=_PQ_DIM, m=_PQ_M, codes=_PQ_CODES,
        iterations=_PQ_ITERS,
    )
    return S.ivfpq_topk(
        emb.filter(F.col("vec_id") < 10), emb, centroids, cb,
        dim=_PQ_DIM, m=_PQ_M, codes=_PQ_CODES, k=5,
    )


# --------------------------------------------------------------------------
# Cross-source duplication matrix: exact-dup pairs per source pair,
# computed from per-(fingerprint, source) counts — pairs never
# materialized (a corpus-sized dup group is #sources rows of integer
# arithmetic, not 10^12 join rows).
# --------------------------------------------------------------------------
@register(
    "dedup_source_overlap",
    oracle="""
    WITH fp AS (
      SELECT source,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp
      FROM documents
    ),
    c AS (SELECT fp, source, COUNT(*) AS n FROM fp GROUP BY fp, source),
    p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CASE WHEN a.source = b.source
                  THEN CAST(a.n * (a.n - 1) / 2 AS BIGINT)
                  ELSE a.n * b.n END AS p
      FROM c a JOIN c b ON a.fp = b.fp AND a.source <= b.source
    )
    SELECT source_a, source_b, CAST(SUM(p) AS BIGINT) AS dup_pairs
    FROM p GROUP BY source_a, source_b HAVING SUM(p) >= 1
    """,
    tags=("dedup", "profiling", "llmdata"),
    doc="Exact-dup pair counts between every source pair, pair-free arithmetic.",
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str):
    return D.source_overlap_matrix(read_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Incremental passage dedup: the batch (doc_id < 50) flagged against
# the corpus gram index (doc_id >= 50) — per-crawl production form.
# --------------------------------------------------------------------------
@register(
    "dedup_passages_incremental",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n_words, t FROM tok WHERE doc_id < 50),
    g AS (SELECT doc_id, UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
          FROM base WHERE n_words >= {_PASSAGE_L}),
    occ AS (SELECT doc_id, pos,
                   md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
            FROM g),
    cb AS (SELECT doc_id, len(t) AS n_words, t FROM tok WHERE doc_id >= 50),
    cg AS (SELECT UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
           FROM cb WHERE n_words >= {_PASSAGE_L}),
    cidx AS (SELECT DISTINCT
                    md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
             FROM cg),
    bmulti AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    dup AS (SELECT gh FROM cidx UNION SELECT gh FROM bmulti),
    cover AS (SELECT DISTINCT doc_id, pos + u.u AS j
              FROM occ JOIN dup USING (gh)
              CROSS JOIN (SELECT UNNEST(range(0, {_PASSAGE_L})) AS u) u),
    runs AS (SELECT doc_id, j,
                    j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS run
             FROM cover),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS dup_words,
                  CAST(COUNT(DISTINCT run) AS INT) AS n_dup_spans
           FROM runs GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
           COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(pd.dup_words, 0) AS dup_words,
           CAST(COALESCE(pd.dup_words, 0) AS DOUBLE) / b.n_words AS dup_frac
    FROM base b LEFT JOIN pd USING (doc_id)
    """,
    tags=("dedup", "passages", "incremental", "llmdata"),
    doc="Batch passage dedup against the corpus gram index (per-crawl form).",
)
def dedup_passages_incremental(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return D.incremental_passage_stats(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        gram_len=_PASSAGE_L,
    )


# --------------------------------------------------------------------------
# Passage spans: the row-per-run form of text_duplicate_passages — the
# trimming pass's input.  Catalog row: the 50 longest spans.
# --------------------------------------------------------------------------
@register(
    "text_passage_spans",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n_words, t FROM tok),
    g AS (SELECT doc_id, UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
          FROM base WHERE n_words >= {_PASSAGE_L}),
    occ AS (SELECT doc_id, pos,
                   md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
            FROM g),
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    cover AS (SELECT DISTINCT doc_id, pos + u.u AS j
              FROM occ JOIN dup USING (gh)
              CROSS JOIN (SELECT UNNEST(range(0, {_PASSAGE_L})) AS u) u),
    runs AS (SELECT doc_id, j,
                    j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS run
             FROM cover)
    SELECT doc_id, CAST(MIN(j) AS INT) AS span_start,
           CAST(MAX(j) AS INT) AS span_end,
           CAST(MAX(j) - MIN(j) + 1 AS INT) AS span_len
    FROM runs GROUP BY doc_id, run
    ORDER BY span_len DESC, doc_id ASC, span_start ASC LIMIT 50
    """,
    tags=("text", "dedup", "passages", "llmdata"),
    doc="The 50 longest duplicated passage spans (trimming input).",
)
def text_passage_spans(spark: SparkSession, sf_dir: str):
    spans = D.duplicate_passage_spans(
        read_table(spark, sf_dir, "documents"), gram_len=_PASSAGE_L
    )
    return spans.orderBy(
        F.desc("span_len"), F.asc("doc_id"), F.asc("span_start")
    ).limit(50)


# --------------------------------------------------------------------------
# Quality-weighted deterministic sampling (the CCNet-style idea: keep
# probability proportional to a quality signal), hash-thresholded so a
# document's fate is content-stable across reruns/partitionings: keep
# iff hash_bucket_256(doc_id) < diversity * 256.
# --------------------------------------------------------------------------
@register(
    "sample_quality_weighted",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS div,
             (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)
               AS bucket
      FROM documents
    )
    SELECT doc_id, div AS quality, CAST(bucket AS INT) AS bucket,
           (bucket < div * 256.0) AS kept
    FROM q
    """,
    tags=("sampling", "quality", "llmdata"),
    doc="Keep-probability proportional to quality, hash-thresholded (rerun-stable).",
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str):
    """Scale shape: pure per-row arithmetic over one scan — no shuffle,
    no RNG, no seed; the same row keeps the same fate on any cluster,
    partitioning, or engine (the sampling module's doctrine), which is
    what makes quality-weighted subsets reproducible across re-crawls."""
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    div = T.distinct_word_ratio(F.col("text"))
    bucket = hash_bucket_256(F.col("doc_id"))
    return docs.select(
        "doc_id",
        div.alias("quality"),
        bucket.alias("bucket"),
        (bucket.cast("double") < div * F.lit(256.0)).alias("kept"),
    )


# --------------------------------------------------------------------------
# Passage trim applied: rebuild each doc with duplicated passages
# removed (the Lee et al. trim step) — detect -> trim, end to end.
# --------------------------------------------------------------------------
@register(
    "text_trim_passages",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n_words, t FROM tok),
    g AS (SELECT doc_id, UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
          FROM base WHERE n_words >= {_PASSAGE_L}),
    occ AS (SELECT doc_id, pos,
                   md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
            FROM g),
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    cover AS (SELECT DISTINCT doc_id, pos + u.u AS j
              FROM occ JOIN dup USING (gh)
              CROSS JOIN (SELECT UNNEST(range(0, {_PASSAGE_L})) AS u) u),
    cv AS (SELECT doc_id, list(j) AS cov FROM cover GROUP BY doc_id),
    w AS (SELECT doc_id, UNNEST(range(1, len(t) + 1)) AS p, t FROM tok),
    kw AS (SELECT w.doc_id, w.p, w.t[w.p] AS word
           FROM w LEFT JOIN cv USING (doc_id)
           WHERE cv.cov IS NULL OR NOT list_contains(cv.cov, w.p - 1)),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
                   array_to_string(list(word ORDER BY p), ' ') AS text_trimmed
            FROM kw GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
           COALESCE(agg.n_kept, 0) AS n_kept,
           COALESCE(agg.text_trimmed, '') AS text_trimmed
    FROM base b LEFT JOIN agg USING (doc_id)
    """,
    tags=("text", "dedup", "passages", "llmdata"),
    doc="Documents rebuilt with duplicated passages removed (trim applied).",
)
def text_trim_passages(spark: SparkSession, sf_dir: str):
    return D.trim_duplicate_passages(
        read_table(spark, sf_dir, "documents"), gram_len=_PASSAGE_L
    )


# --------------------------------------------------------------------------
# Prep pipeline v2: the modern tier order — Gopher rule filter ->
# passage trim -> exact dedup on the TRIMMED text -> quality-weighted
# admission.  Every stage is a proven catalog operator; the oracle
# composes their SQL twins over the same filtered corpus.
# --------------------------------------------------------------------------
_SQL_GOPHER_KEEP = f"""
      len(string_split(text, ' ')) BETWEEN 10 AND 1000
      AND CAST(len(replace(text, ' ', '')) AS DOUBLE)
          / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0
      AND ({_SQL_STOPHITS}) >= 2
      AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) >= 0.3
      AND CAST(len(regexp_extract_all(text, '[0-9]+')) AS DOUBLE)
          / len(string_split(text, ' ')) <= 0.2
"""


# --------------------------------------------------------------------------
# Quality-stratified mixture PLAN: the curation artifact a data team
# actually ships — per (source, quality band): doc/token inventory,
# the source's temperature-2 target share, its token target under a
# global budget (half the PASSING tokens — a fixed policy constant),
# and the deterministic keep_rate that hits the target from the
# passing stratum (failing docs are never admitted; an over-subscribed
# target caps at 1.0).  Composes three proven pieces (Gopher bands,
# temperature weights with the fold-deterministic denominator, exact
# integer token sums); one corpus scan + group-cardinality aggregates.
# --------------------------------------------------------------------------
@register(
    "mixture_quality_plan",
    oracle=f"""
    WITH banded AS (
      SELECT source,
             CASE WHEN {_SQL_GOPHER_KEEP} THEN 'pass' ELSE 'fail' END AS band,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cells AS (
      SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM banded GROUP BY source, band
    ),
    src AS (
      SELECT source,
             CAST(SUM(CASE WHEN band = 'pass' THEN n_docs ELSE 0 END) AS BIGINT)
               AS pass_docs,
             CAST(SUM(CASE WHEN band = 'pass' THEN n_tokens ELSE 0 END) AS BIGINT)
               AS pass_tokens
      FROM cells GROUP BY source
    ),
    tot AS (
      SELECT list_reduce(list(sqrt(CAST(pass_docs AS DOUBLE)) ORDER BY source),
                         (p, q) -> p + q) AS denom,
             CAST(SUM(pass_tokens) AS BIGINT) AS total_pass_tokens
      FROM src
    )
    SELECT c.source, c.band, c.n_docs, c.n_tokens,
           CASE WHEN t.denom = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE sqrt(CAST(s.pass_docs AS DOUBLE)) / t.denom
           END AS target_share,
           CASE WHEN c.band = 'pass' AND t.denom <> 0 THEN
             LEAST(CAST(1.0 AS DOUBLE),
               (sqrt(CAST(s.pass_docs AS DOUBLE)) / t.denom)
                 * (CAST(t.total_pass_tokens AS DOUBLE) / CAST(2.0 AS DOUBLE))
                 / CAST(s.pass_tokens AS DOUBLE))
           ELSE CAST(0.0 AS DOUBLE) END AS keep_rate
    FROM cells c
    JOIN src s ON s.source = c.source
    CROSS JOIN tot t
    """,
    tags=("sampling", "mixture", "quality", "llmdata"),
    doc="Per-(source, quality band) inventory with temperature targets and keep rates.",
)
def mixture_quality_plan(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    rules = T.gopher_rules(F.col("text"))
    keep = None
    for n in rules:
        keep = rules[n] if keep is None else (keep & rules[n])
    banded = docs.select(
        "source",
        F.when(keep, F.lit("pass")).otherwise(F.lit("fail")).alias("band"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    # Lazy checkpoint (r15): cells is (source x band)-sized, but its
    # three consumers (the final join, src, tot-via-src) have differing
    # column demand so stage reuse never fired — runtime audit: 3
    # documents scans, only 1 reused.  One checkpoint = one corpus pass.
    cells = banded.groupBy("source", "band").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    ).transform(share)
    src = cells.groupBy("source").agg(
        F.sum(F.when(F.col("band") == "pass", F.col("n_docs")).otherwise(0)).alias(
            "pass_docs"
        ),
        F.sum(
            F.when(F.col("band") == "pass", F.col("n_tokens")).otherwise(0)
        ).alias("pass_tokens"),
    )
    # Fold-deterministic denominator: sqrt weights summed in source
    # order (the temperature_mixture_weights doctrine).
    tot = src.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("source", "pass_docs"))
                ),
                lambda s: F.sqrt(s["pass_docs"].cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("denom"),
        F.sum("pass_tokens").alias("total_pass_tokens"),
    )
    src_share = F.sqrt(F.col("pass_docs").cast("double")) / F.col("denom")
    # denom = 0 (NO source has a passing doc) is a legitimate degenerate
    # input — the r13 sf10 audit hit it on a synthetic corpus whose
    # vocabulary words contain digits, failing every doc on the Gopher
    # digit-ratio rule — and the PLAN artifact must come back with zero
    # shares, not an ANSI divide-by-zero (oracle guards identically).
    share_safe = F.when(F.col("denom") != 0.0, src_share).otherwise(F.lit(0.0))
    keep_rate = F.when(
        (F.col("band") == "pass") & (F.col("denom") != 0.0),
        F.least(
            F.lit(1.0),
            src_share
            * (F.col("total_pass_tokens").cast("double") / F.lit(2.0))
            / F.col("pass_tokens").cast("double"),
        ),
    ).otherwise(F.lit(0.0))
    return (
        cells.join(src, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "band",
            "n_docs",
            "n_tokens",
            share_safe.alias("target_share"),
            keep_rate.alias("keep_rate"),
        )
    )



@register(
    "llm_prep_pipeline_v2",
    oracle=f"""
    WITH kept_docs AS (SELECT doc_id, text FROM documents WHERE {_SQL_GOPHER_KEEP}),
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM kept_docs),
    base AS (SELECT doc_id, len(t) AS n_words, t FROM tok),
    g AS (SELECT doc_id, UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
          FROM base WHERE n_words >= {_PASSAGE_L}),
    occ AS (SELECT doc_id, pos,
                   md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
            FROM g),
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    cover AS (SELECT DISTINCT doc_id, pos + u.u AS j
              FROM occ JOIN dup USING (gh)
              CROSS JOIN (SELECT UNNEST(range(0, {_PASSAGE_L})) AS u) u),
    cv AS (SELECT doc_id, list(j) AS cov FROM cover GROUP BY doc_id),
    w AS (SELECT doc_id, UNNEST(range(1, len(t) + 1)) AS p, t FROM tok),
    kw AS (SELECT w.doc_id, w.p, w.t[w.p] AS word
           FROM w LEFT JOIN cv USING (doc_id)
           WHERE cv.cov IS NULL OR NOT list_contains(cv.cov, w.p - 1)),
    tr AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
                  array_to_string(list(word ORDER BY p), ' ') AS text_trimmed
           FROM kw GROUP BY doc_id),
    td AS (SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
                  tr.n_kept, tr.text_trimmed
           FROM base b JOIN tr USING (doc_id) WHERE tr.n_kept > 0),
    fst AS (SELECT text_trimmed, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
            FROM td GROUP BY text_trimmed)
    SELECT td.doc_id, td.n_words, td.n_kept, fst.n_copies,
           CAST(len(list_distinct(string_split(td.text_trimmed, ' '))) AS DOUBLE)
             / len(string_split(td.text_trimmed, ' ')) AS quality,
           ((strpos('0123456789abcdef', substr(md5(CAST(td.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(CAST(td.doc_id AS VARCHAR)), 2, 1)) - 1)
            < CAST(len(list_distinct(string_split(td.text_trimmed, ' '))) AS DOUBLE)
              / len(string_split(td.text_trimmed, ' ')) * 256.0) AS admitted
    FROM td JOIN fst ON td.text_trimmed = fst.text_trimmed
    WHERE td.doc_id = fst.keeper
    """,
    tags=("llmdata", "pipeline", "dedup", "quality"),
    doc="Gopher filter -> passage trim -> exact dedup on trimmed text -> hash-quality admission.",
)
def llm_prep_pipeline_v2(spark: SparkSession, sf_dir: str):
    """Every stage is a proven operator; stage order is the modern LLM
    prep doctrine (filter cheap rules first, trim duplicated passages,
    THEN dedup on the post-trim text — two docs differing only in
    boilerplate collapse — then admit by quality).  Scale: the gopher
    filter is scan-speed and cuts everything downstream; the trim is
    the one-gram-scan shape; the dedup is a hash groupBy on trimmed
    text; admission is per-row arithmetic.  Two corpus scans total
    (gram pipeline + rebuild), both filter-pruned."""
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    rules = T.gopher_rules(F.col("text"))
    keep = None
    for name in rules:
        keep = rules[name] if keep is None else (keep & rules[name])
    filtered = docs.filter(keep)
    trimmed = D.trim_duplicate_passages(filtered, gram_len=_PASSAGE_L).filter(
        F.col("n_kept") > 0
    )
    fst = trimmed.groupBy("text_trimmed").agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )
    quality = T.distinct_word_ratio(F.col("text_trimmed"))
    bucket = hash_bucket_256(F.col("doc_id"))
    return (
        trimmed.join(fst, "text_trimmed")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select(
            "doc_id",
            "n_words",
            "n_kept",
            "n_copies",
            quality.alias("quality"),
            (bucket.cast("double") < quality * F.lit(256.0)).alias("admitted"),
        )
    )


# --------------------------------------------------------------------------
# Dedup/filter funnel: documents surviving each curation tier — the
# one-pane report a curation engineer reads before choosing caps and
# mixtures.  Tiers 00-30 come from ONE scan (combinable aggregates on a
# single row, exploded into tier rows); the passage tier reuses the
# one-scan gram pipeline.
# --------------------------------------------------------------------------
@register(
    "dedup_tier_funnel",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, text,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fp
      FROM documents
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    base AS (SELECT doc_id, len(t) AS n_words, t FROM tok),
    g AS (SELECT doc_id, UNNEST(range(0, n_words - {_PASSAGE_L} + 1)) AS pos, t
          FROM base WHERE n_words >= {_PASSAGE_L}),
    occ AS (SELECT doc_id, pos,
                   md5(array_to_string(t[pos + 1 : pos + {_PASSAGE_L}], ' ')) AS gh
            FROM g),
    dup AS (SELECT gh FROM occ GROUP BY gh HAVING COUNT(*) >= 2),
    dirty AS (SELECT DISTINCT doc_id FROM occ JOIN dup USING (gh))
    SELECT '00_raw' AS tier, COUNT(*) AS n_docs FROM documents
    UNION ALL
    SELECT '10_gopher_keep', COUNT(*) FROM documents WHERE {_SQL_GOPHER_KEEP}
    UNION ALL
    SELECT '20_exact_distinct', COUNT(DISTINCT text) FROM documents
    UNION ALL
    SELECT '30_fingerprint_distinct', COUNT(DISTINCT fp) FROM fp
    UNION ALL
    SELECT '40_passage_clean', COUNT(*) FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
    tags=("dedup", "profiling", "llmdata"),
    doc="Documents surviving each curation tier (raw/rules/exact/fingerprint/passage).",
)
def dedup_tier_funnel(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    rules = T.gopher_rules(F.col("text"))
    keep = None
    for name in rules:
        keep = rules[name] if keep is None else (keep & rules[name])
    one = docs.agg(
        F.count("*").alias("raw"),
        F.sum(keep.cast("long")).alias("gopher"),
        F.countDistinct("text").alias("exact"),
        F.countDistinct(D.fingerprint(F.col("text"))).alias("fng"),
    )
    stats = D.duplicate_passage_stats(docs, gram_len=_PASSAGE_L)
    clean = stats.filter(F.col("dup_words") == 0).agg(
        F.count("*").alias("n")
    )
    # Melt the one-row aggregate with stack(): a union of per-tier
    # selects would re-execute the corpus aggregate (with its TWO
    # countDistincts) once per branch — the repeated-subtree trap.
    melted = one.select(
        F.expr(
            "stack(4, '00_raw', CAST(raw AS LONG),"
            " '10_gopher_keep', CAST(gopher AS LONG),"
            " '20_exact_distinct', CAST(exact AS LONG),"
            " '30_fingerprint_distinct', CAST(fng AS LONG))"
            " AS (tier, n_docs)"
        )
    )
    return melted.unionByName(
        clean.select(
            F.lit("40_passage_clean").alias("tier"),
            F.col("n").cast("long").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------------
# Token-frequency Gini per document: inequality of the doc's token
# distribution — 0 = perfectly even vocabulary use, ->1 = one token
# dominating (a repetition/boilerplate signal that complements Simpson
# diversity).  G = 2*sum(i * c_(i)) / (m * sum(c)) - (m + 1)/m over the
# ascending-sorted counts; the weighted sum is INVARIANT to tie order
# (equal counts contribute identically under any permutation), so a
# (count, token) rank is deterministic and the whole statistic is
# exact-integer until two final double divisions.  The only window
# partitions by DOC.
# --------------------------------------------------------------------------
@register(
    "text_token_gini",
    oracle="""
    WITH c AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ),
    r AS (
      SELECT doc_id, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c, tok) AS rn
      FROM c
    ),
    s AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(SUM(rn * c) AS BIGINT) AS ws
      FROM r GROUP BY doc_id
    )
    SELECT doc_id, m AS n_distinct, total AS n_tokens,
           CAST(2 * ws AS DOUBLE) / (m * total) - CAST(m + 1 AS DOUBLE) / m
             AS gini
    FROM s
    """,
    tags=("text", "quality", "repetition", "llmdata"),
    doc="Per-doc token-frequency Gini coefficient (exact integer ranks).",
)
def text_token_gini(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    c = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("doc_id").orderBy("c", "tok")
    r = c.withColumn("rn", F.row_number().over(w))
    s = r.groupBy("doc_id").agg(
        F.count("*").alias("m"),
        F.sum("c").alias("total"),
        F.sum(F.col("rn") * F.col("c")).alias("ws"),
    )
    return s.select(
        "doc_id",
        F.col("m").alias("n_distinct"),
        F.col("total").alias("n_tokens"),
        (
            (F.lit(2) * F.col("ws")).cast("double")
            / (F.col("m") * F.col("total"))
            - (F.col("m") + F.lit(1)).cast("double") / F.col("m")
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Per-source corpus dashboard: volume, exact-dup rate, mean length —
# the slice view mixtures and caps are chosen from.  One scan, all
# combinable aggregates; the mean is an exact integer-sum ratio.
# --------------------------------------------------------------------------
@register(
    "corpus_source_dashboard",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*) AS dup_rate,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY source
    """,
    tags=("profiling", "dedup", "llmdata"),
    doc="Per-source volume, exact-dup rate, and mean length.",
)
def corpus_source_dashboard(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_distinct"),
        (
            F.lit(1.0)
            - F.countDistinct("text").cast("double") / F.count("*")
        ).alias("dup_rate"),
        (
            F.sum(F.col("n_chars").cast("long")).cast("double") / F.count("*")
        ).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# Lang-ID confusion matrix: heuristic prediction vs the labeled lang —
# the evaluation view of text_langid (precision/recall per language
# read straight off the cells).  One scan, combinable counts.
# --------------------------------------------------------------------------
@register(
    "text_lang_confusion",
    oracle="""
    WITH s AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS INT) AS s_en,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ('el', 'la', 'de', 'los', 'y'))) AS INT) AS s_es,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> x IN ('der', 'die', 'das', 'und', 'zu'))) AS INT) AS s_de
      FROM documents
    )
    SELECT lang AS true_lang,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_es > 0 THEN 'es'
                ELSE 'unknown' END AS pred_lang,
           COUNT(*) AS n_docs
    FROM s GROUP BY 1, 2
    """,
    tags=("text", "langid", "audit"),
    doc="Heuristic lang-ID confusion matrix vs the labeled language.",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    scores = T.langid_scores(F.col("text"))
    pred = T.langid_pred(scores["en"], scores["es"], scores["de"])
    return (
        docs.select(F.col("lang").alias("true_lang"), pred.alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# DQ: primary-key uniqueness across the id-bearing tables — one report
# row per table.  Combinable count/count-distinct per table; the union
# is #tables rows.
# --------------------------------------------------------------------------
@register(
    "dq_pk_uniqueness",
    oracle="""
    SELECT 'documents' AS tbl, COUNT(*) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_keys,
           (COUNT(*) = COUNT(DISTINCT doc_id)) AS pk_unique
    FROM documents
    UNION ALL
    SELECT 'embeddings', COUNT(*), COUNT(DISTINCT vec_id),
           COUNT(*) = COUNT(DISTINCT vec_id) FROM embeddings
    UNION ALL
    SELECT 'events', COUNT(*), COUNT(DISTINCT event_id),
           COUNT(*) = COUNT(DISTINCT event_id) FROM events
    UNION ALL
    SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey),
           COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey),
           COUNT(*) = COUNT(DISTINCT c_custkey) FROM customer
    """,
    tags=("dq", "profiling"),
    doc="PK-uniqueness report across the id-bearing tables.",
)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str):
    out = None
    for tbl, key in [
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
    ]:
        t = read_table(spark, sf_dir, tbl)
        row = t.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
        ).select(
            F.lit(tbl).alias("tbl"),
            "n_rows",
            "n_keys",
            (F.col("n_rows") == F.col("n_keys")).alias("pk_unique"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# DQ: join/groupBy-key skew report — the top-5 heaviest keys per
# (table, key) with their share of rows and multiple-of-mean-occupancy:
# the diagnostic that decides salting, AQE skew thresholds, and df caps
# BEFORE a shuffle melts down at scale.  Per table: two combinable
# aggregates (per-key count; global total+distinct) + a top-k
# TakeOrderedAndProject — nothing row-scale is sorted or windowed.
# x_mean = n * n_keys / n_rows is exact-integer arithmetic until one
# final double division per row.
# --------------------------------------------------------------------------
def _skew_sql(tbl: str, key: str) -> str:
    return f"""
    SELECT '{tbl}' AS tbl, '{key}' AS key_col, k AS key,
           n, CAST(n AS DOUBLE) / t.n_rows AS share,
           CAST(n * t.n_keys AS DOUBLE) / t.n_rows AS x_mean
    FROM (
      SELECT CAST({key} AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS n
      FROM {tbl} GROUP BY 1
      ORDER BY n DESC, k ASC LIMIT 5
    )
    CROSS JOIN (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT {key}) AS BIGINT) AS n_keys
      FROM {tbl}
    ) t"""


_SKEW_TABLES = [("events", "user_id"), ("lineitem", "l_suppkey"),
                ("documents", "source")]


@register(
    "dq_key_skew_report",
    oracle="\nUNION ALL\n".join(_skew_sql(t, k) for t, k in _SKEW_TABLES),
    tags=("dq", "profiling", "skew"),
    doc="Top-5 heaviest keys per (table, key): share and multiple-of-mean.",
)
def dq_key_skew_report(spark: SparkSession, sf_dir: str):
    out = None
    for tbl, key in _SKEW_TABLES:
        t = read_table(spark, sf_dir, tbl)
        tot = t.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
        )
        top = (
            t.groupBy(F.col(key).cast("string").alias("key"))
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("key"))
            .limit(5)
        )
        row = top.crossJoin(F.broadcast(tot)).select(
            F.lit(tbl).alias("tbl"),
            F.lit(key).alias("key_col"),
            "key",
            "n",
            (F.col("n").cast("double") / F.col("n_rows")).alias("share"),
            ((F.col("n") * F.col("n_keys")).cast("double") / F.col("n_rows")).alias(
                "x_mean"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# Embedding QA: per-label robust norm outliers — broken/degenerate
# vectors show up as extreme L2 norms; the lower-median/MAD rule of
# quality_length_outliers applied to the (bit-deterministic) norm fold.
# --------------------------------------------------------------------------
@register(
    "embedding_norm_outliers",
    oracle=f"""
    WITH lens AS (
      SELECT label, vec_id,
             sqrt({_sql_dot('embedding', 'embedding')}) AS v
      FROM embeddings
    ),
    med AS (
      SELECT label, v AS med_v FROM (
        SELECT label, v,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY v, vec_id) AS rk,
               COUNT(*) OVER (PARTITION BY label) AS n
        FROM lens
      ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    ),
    dev AS (
      SELECT l.label, l.vec_id, l.v, m.med_v, abs(l.v - m.med_v) AS adev
      FROM lens l JOIN med m ON l.label = m.label
    ),
    mad AS (
      SELECT label, adev AS mad FROM (
        SELECT label, adev,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY adev, vec_id) AS rk,
               COUNT(*) OVER (PARTITION BY label) AS n
        FROM dev
      ) WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ANY_VALUE(d.med_v) AS med_norm,
           ANY_VALUE(m.mad) AS mad,
           CAST(COUNT(*) FILTER (WHERE d.adev > 3 * m.mad) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m ON d.label = m.label
    GROUP BY d.label
    """,
    tags=("similarity", "quality", "audit", "llmdata"),
    doc="Per-label robust L2-norm outliers (lower-median/MAD).",
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    # Checkpoint the narrow norm projection (and dev below): the norm
    # fold over the embedding arrays is the dominant cost and feeds
    # three consumers — one embeddings scan total.
    lens = emb.select(
        "label", "vec_id", S.l2_norm(F.col("embedding")).alias("v")
    ).transform(share)

    def lower_median(df, val_col, out_col):
        # distributed per-label median (round 12): 10 labels over the
        # embeddings table would otherwise be 10 single-task sorts —
        # distinct-value cells + the grouped prefix scan, value at rank
        # ceil(n/2) = min v with cum >= (n+1) div 2 (exact integer rank;
        # value-at-rank is tie-insensitive, so collapsing to cells is
        # lossless)
        from fotmobdatapipeline_spark.operators.prefix import grouped_running_sum

        cells = df.groupBy("label", F.col(val_col).alias("_mv")).agg(
            F.count("*").cast("bigint").alias("_mc")
        )
        run = grouped_running_sum(cells, ["label"], ["_mv"], "_mc", out_col="_mu")
        tn = cells.groupBy("label").agg(F.sum("_mc").cast("bigint").alias("_mn"))
        return (
            run.join(F.broadcast(tn), "label")
            .groupBy("label")
            .agg(
                F.min(
                    F.when(
                        F.col("_mu") >= F.expr("(_mn + 1) div 2"), F.col("_mv")
                    )
                ).alias(out_col)
            )
        )

    med = lower_median(lens, "v", "med_v")
    dev = (
        lens.join(med, "label")
        .withColumn("adev", F.abs(F.col("v") - F.col("med_v")))
        .transform(share)
    )
    mad = lower_median(dev, "adev", "mad")
    return (
        dev.join(mad, "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.any_value("med_v").alias("med_norm"),
            F.any_value("mad").alias("mad"),
            F.count_if(F.col("adev") > 3 * F.col("mad")).alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# ANN recall report: recall@5 of each approximate tier against the
# exact brute-force truth — the speed/recall trade measured as DATA,
# so the choice between tiers is a query away instead of folklore.
# The oracle composes each tier's full replayed SQL (nested WITH
# subqueries) against the brute-force oracle — deferred to oracle_sql()
# time via the callable-oracle hook so the referenced specs exist.
# --------------------------------------------------------------------------
_RECALL_TIERS = {
    "ivf_kmeans": "sim_ivf_kmeans_topk",
    "pq_adc": "sim_pq_adc_topk",
    "ivf_pq": "sim_ivfpq_topk",
}


def _recall_oracle() -> str:
    from fotmobdatapipeline_spark.plans.catalog import QUERIES

    bf = QUERIES["sim_bruteforce_topk"].oracle_text()
    parts = []
    for tier, name in _RECALL_TIERS.items():
        t = QUERIES[name].oracle_text()
        parts.append(
            f"SELECT '{tier}' AS tier, CAST(COUNT(*) AS BIGINT) AS n_hits, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM ({bf}) x) AS n_total, "
            f"CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM ({bf}) y) "
            f"AS recall_at_5 "
            f"FROM ({t}) a JOIN ({bf}) b "
            f"ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"
        )
    return " UNION ALL ".join(parts)


# --------------------------------------------------------------------------
# IVF probe-recall curve: recall@5 of the TRAINED-centroid IVF at
# n_probes = 1, 2, 4 vs exact brute force — the tuning chart that sets
# the probe count (recall rises monotonically with probes at probe-
# multiplied cost; sim_recall_report prices tiers, this prices the
# within-tier knob).  Shares the memoized trained centroids and the
# checkpointed truth set.
# --------------------------------------------------------------------------
_PROBE_CURVE = (1, 2, 4)


def _ivf_probe_sql(p: int, k: int = 8, iters: int = 3, d: int = 64) -> str:
    parts = _kmeans_fin_ctes(k, iters, d)
    parts[-1] += ","
    parts += [
        "q AS (SELECT vec_id, v, nrm FROM en WHERE vec_id < 10),",
        "pa AS (SELECT vec_id, cell, rk FROM ("
        "SELECT q.vec_id, c.cell, ROW_NUMBER() OVER (PARTITION BY q.vec_id "
        f"ORDER BY {_sql_dot('q.v', 'c.cv')} / (q.nrm * c.cnorm) DESC, c.cell ASC) AS rk "
        f"FROM q CROSS JOIN c{iters} c))",
        "SELECT query_id, neighbor_id FROM ("
        "SELECT q.vec_id AS query_id, f.vec_id AS neighbor_id, "
        "ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY "
        f"{_sql_dot('q.v', 'f.v')} / (q.nrm * f.nrm) DESC, f.vec_id ASC) AS nrk "
        f"FROM q JOIN pa ON pa.vec_id = q.vec_id AND pa.rk <= {p} "
        "JOIN fin f ON f.cell = pa.cell AND f.vec_id <> q.vec_id"
        ") WHERE nrk <= 5",
    ]
    return "\n".join(parts)


def _probe_curve_oracle() -> str:
    from fotmobdatapipeline_spark.plans.catalog import QUERIES

    bf = QUERIES["sim_bruteforce_topk"].oracle_text()
    parts = []
    for p in _PROBE_CURVE:
        t = _ivf_probe_sql(p)
        parts.append(
            f"SELECT {p} AS n_probes, CAST(COUNT(*) AS BIGINT) AS n_hits, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM ({bf}) x) AS n_total, "
            f"CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM ({bf}) y) "
            f"AS recall_at_5 "
            f"FROM ({t}) a JOIN ({bf}) b "
            f"ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"
        )
    return " UNION ALL ".join(parts)


@register(
    "sim_ivf_probe_curve",
    oracle=_probe_curve_oracle,
    tags=("similarity", "ivf", "kmeans", "ann", "audit"),
    doc="Recall@5 of trained IVF at n_probes 1/2/4 vs brute force.",
)
def sim_ivf_probe_curve(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    bf = (
        sim_bruteforce_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .transform(share)
    )
    total = bf.count()
    queries = emb.filter(F.col("vec_id") < 10)
    out = None
    for p in _PROBE_CURVE:
        t = S.ivf_topk(queries, emb, centroids, k=5, n_probes=p).select(
            "query_id", "neighbor_id"
        )
        row = (
            t.join(bf, ["query_id", "neighbor_id"])
            .agg(F.count("*").alias("n_hits"))
            .select(
                F.lit(p).alias("n_probes"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.lit(total).cast("long").alias("n_total"),
                (F.col("n_hits").cast("double") / F.lit(float(total))).alias(
                    "recall_at_5"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "sim_recall_report",
    oracle=_recall_oracle,
    tags=("similarity", "ann", "audit", "llmdata"),
    doc="Recall@5 of each ANN tier vs the exact brute-force baseline.",
)
def sim_recall_report(spark: SparkSession, sf_dir: str):
    """Scale note: each tier is its production shape (cell-confined /
    compressed); the truth set is |Q|*k pairs (bounded), so the hit
    joins are trivially broadcast.  The count() is a bounded driver
    scalar (the n_docs pattern).

    Measured at sf0.01: ivf_kmeans 0.70, pq_adc 0.12, ivf_pq 0.14 —
    the (m=4, codes=4) toy codebooks quantize 64 random dims to 8 bits
    total, so low PQ recall here is the compression trade made visible
    (production PQ uses m=8..16 with 256 codes per subspace); sizing
    codebooks IS what this report is for."""
    # Checkpoint the truth set: it feeds the count AND all three tier
    # joins — without it the brute-force baseline (the most expensive
    # subtree here) re-executes once per consumer.
    bf = (
        sim_bruteforce_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .transform(share)
    )
    total = bf.count()
    builders = {
        "ivf_kmeans": sim_ivf_kmeans_topk,
        "pq_adc": sim_pq_adc_topk,
        "ivf_pq": sim_ivfpq_topk,
    }
    out = None
    for tier, fn in builders.items():
        t = fn(spark, sf_dir).select("query_id", "neighbor_id")
        row = (
            t.join(bf, ["query_id", "neighbor_id"])
            .agg(F.count("*").alias("n_hits"))
            .select(
                F.lit(tier).alias("tier"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.lit(total).cast("long").alias("n_total"),
                (F.col("n_hits").cast("double") / F.lit(float(total))).alias(
                    "recall_at_5"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# Production-sized ANN recall (VERDICT r12 #5): sim_recall_report prices
# the TOY codebooks honestly (pq_adc 0.12 at 8 bits/vector); this entry
# ships the configurations a deployment would actually run and shows all
# of them >= 0.8 recall@5 — IVF-Flat at 2 and 4 probes (exact distances
# within probed cells) and PQ-rerank at m=16 subquantizers x 16 codes
# (64 bits/vector, 4 dims/subspace — the FAISS IndexRefineFlat shape)
# with a 40-candidate shortlist.  Measured at sf0.01: 0.86 / 0.96 / 0.96.
# --------------------------------------------------------------------------
_PROD_PQ_M, _PROD_PQ_CODES, _PROD_PQ_ITERS, _PROD_SHORTLIST = 16, 16, 2, 40


def _recall_production_oracle() -> str:
    from fotmobdatapipeline_spark.plans.catalog import QUERIES

    bf = QUERIES["sim_bruteforce_topk"].oracle_text()
    tiers = [
        ("ivf_flat_p2", _ivf_probe_sql(2)),
        ("ivf_flat_p4", _ivf_probe_sql(4)),
        (
            "pq_rerank_m16",
            _pq_rerank_oracle(
                m=_PROD_PQ_M, codes=_PROD_PQ_CODES, iters=_PROD_PQ_ITERS,
                shortlist=_PROD_SHORTLIST,
            ),
        ),
    ]
    parts = []
    for tier, t in tiers:
        parts.append(
            f"SELECT '{tier}' AS tier, CAST(COUNT(*) AS BIGINT) AS n_hits, "
            f"(SELECT CAST(COUNT(*) AS BIGINT) FROM ({bf}) x) AS n_total, "
            f"CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM ({bf}) y) "
            f"AS recall_at_5 "
            f"FROM ({t}) a JOIN ({bf}) b "
            f"ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"
        )
    return " UNION ALL ".join(parts)


@register(
    "sim_recall_production",
    oracle=_recall_production_oracle,
    tags=("similarity", "ann", "audit", "llmdata", "production"),
    doc="Recall@5 of production-sized ANN configs (all >= 0.8) vs brute force.",
)
def sim_recall_production(spark: SparkSession, sf_dir: str):
    """The shipped-defaults answer to sim_recall_report's toy-codebook
    visibility: every tier here is a configuration a deployment would
    run, and every row's recall@5 is >= 0.8 at sf0.01 (0.86/0.96/0.96).

    Scale: identical shapes to the report — trained centroids/codebooks
    are model-sized broadcasts, IVF candidates are cell-confined, the
    PQ shortlist bounds the exact-rerank fetch at |Q|*shortlist rows,
    and the truth set is |Q|*k pairs, so the hit joins broadcast."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = _trained_centroids(spark, sf_dir, k=8, iterations=3)
    bf = (
        sim_bruteforce_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .transform(share)
    )
    total = bf.count()
    queries = emb.filter(F.col("vec_id") < 10)
    cb = _trained_codebooks(
        spark, sf_dir, dim=_PQ_DIM, m=_PROD_PQ_M, codes=_PROD_PQ_CODES,
        iterations=_PROD_PQ_ITERS,
    )
    enc = S.pq_encode(emb, cb, dim=_PQ_DIM, m=_PROD_PQ_M)
    tiers = {
        "ivf_flat_p2": S.ivf_topk(queries, emb, centroids, k=5, n_probes=2),
        "ivf_flat_p4": S.ivf_topk(queries, emb, centroids, k=5, n_probes=4),
        "pq_rerank_m16": S.pq_rerank_topk(
            queries, cb, enc, emb, dim=_PQ_DIM, m=_PROD_PQ_M,
            codes=_PROD_PQ_CODES, shortlist=_PROD_SHORTLIST, k=5,
        ),
    }
    out = None
    for tier, t in tiers.items():
        row = (
            t.select("query_id", "neighbor_id")
            .join(bf, ["query_id", "neighbor_id"])
            .agg(F.count("*").alias("n_hits"))
            .select(
                F.lit(tier).alias("tier"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.lit(total).cast("long").alias("n_total"),
                (F.col("n_hits").cast("double") / F.lit(float(total))).alias(
                    "recall_at_5"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# CMS mergeability as DATA: two half-corpus sketches cell-summed must
# equal the whole-corpus sketch — the property that lets per-shard /
# per-day sketches compose without rescans.  Bloom and HLL have merge
# pins as tests; this makes the CMS guarantee a queryable report.
# --------------------------------------------------------------------------
@register(
    "sketch_cms_merge",
    oracle=f"""
    WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS k FROM documents),
    keyed AS (SELECT doc_id, k, UNNEST({_CMS_SQL_DEPTH_ROWS}) AS r FROM tok),
    kb AS (
      SELECT doc_id, r,
             ({_sql_hex32("substr(md5('cms' || CAST(r AS VARCHAR) || ':' || k), 1, 8)")})
               % 256 AS b
      FROM keyed
    ),
    full_cms AS (SELECT r, b, COUNT(*) AS cnt FROM kb GROUP BY r, b),
    a_cms AS (SELECT r, b, COUNT(*) AS cnt FROM kb WHERE doc_id < 250 GROUP BY r, b),
    b_cms AS (SELECT r, b, COUNT(*) AS cnt FROM kb WHERE doc_id >= 250 GROUP BY r, b),
    merged AS (
      SELECT r, b, SUM(cnt) AS cnt FROM (
        SELECT * FROM a_cms UNION ALL SELECT * FROM b_cms
      ) GROUP BY r, b
    ),
    cmp AS (
      SELECT COALESCE(f.r, m.r) AS r,
             CASE WHEN f.cnt IS NULL OR m.cnt IS NULL OR f.cnt <> m.cnt
                  THEN 1 ELSE 0 END AS mismatch,
             COALESCE(f.cnt, 0) AS fcnt
      FROM full_cms f FULL OUTER JOIN merged m ON f.r = m.r AND f.b = m.b
    )
    SELECT r AS sketch_row, CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(fcnt) AS BIGINT) AS total_cnt,
           CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
           (SUM(mismatch) = 0) AS mergeable
    FROM cmp GROUP BY r
    """,
    tags=("sketch", "merge", "llmdata"),
    doc="Two half-corpus CMS sketches cell-summed == whole-corpus sketch, per row.",
)
def sketch_cms_merge(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import count_min_table

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("k")
    )
    # r14: collapse the token stream to per-(word, half) exact counts
    # once, then build all three sketches from the weighted counts
    # (count_min_table weight_col — bucket counts are sums of their
    # keys' counts, bit-identical).  Before: 3 sketches x depth x every
    # raw token through md5; now depth x vocab(x2 halves).
    # Lazy checkpoint (r15): the r14 note claimed the count aggregate's
    # exchange is reused across the three sketch consumers — the
    # runtime audit showed it is NOT (the __in_a / NOT __in_a filters
    # are on a GROUPING key, so they push below the aggregate into the
    # scan and the subtrees diverge: 3 documents scans, 0 Reused).
    # The frame is vocab x 2 rows; one checkpoint = one corpus pass.
    side_counts = tok.groupBy("k", (F.col("doc_id") < 250).alias("__in_a")).agg(
        F.count("*").alias("__w")
    ).transform(share)
    full = count_min_table(side_counts, "k", weight_col="__w")
    a = count_min_table(
        side_counts.filter(F.col("__in_a")), "k", weight_col="__w"
    )
    b = count_min_table(
        side_counts.filter(~F.col("__in_a")), "k", weight_col="__w"
    )
    merged = (
        a.unionByName(b)
        .groupBy("sketch_row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cmp = full.withColumnsRenamed({"cnt": "fcnt"}).join(
        merged, ["sketch_row", "bucket"], "full"
    )
    mismatch = F.when(
        F.col("fcnt").isNull()
        | F.col("cnt").isNull()
        | (F.col("fcnt") != F.col("cnt")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return cmp.groupBy("sketch_row").agg(
        F.count("*").alias("n_cells"),
        F.sum(F.coalesce("fcnt", F.lit(0))).alias("total_cnt"),
        F.sum(mismatch).alias("n_mismatch"),
        (F.sum(mismatch) == 0).alias("mergeable"),
    )


# --------------------------------------------------------------------------
# KMV mergeability as DATA (the cms-merge sibling for the bottom-k
# family): bottom-k of the union of two shard sketches must equal the
# whole-corpus sketch — hash for hash, not just in estimate.
# --------------------------------------------------------------------------
@register(
    "sketch_kmv_merge",
    oracle=f"""
    WITH w AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS k FROM documents),
    ha AS (SELECT DISTINCT {_sql_hex32("substr(md5('kmv:' || k), 1, 8)")} AS h
           FROM w WHERE doc_id < 250),
    hb AS (SELECT DISTINCT {_sql_hex32("substr(md5('kmv:' || k), 1, 8)")} AS h
           FROM w WHERE doc_id >= 250),
    hf AS (SELECT DISTINCT {_sql_hex32("substr(md5('kmv:' || k), 1, 8)")} AS h FROM w),
    ba AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    bb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    bf AS (SELECT h FROM hf ORDER BY h LIMIT {_KMV_K}),
    bm AS (SELECT h FROM (SELECT DISTINCT h FROM (
             SELECT h FROM ba UNION ALL SELECT h FROM bb))
           ORDER BY h LIMIT {_KMV_K}),
    diff AS (
      SELECT COUNT(*) AS n_diff FROM (
        SELECT h FROM bm EXCEPT SELECT h FROM bf
        UNION ALL
        SELECT h FROM bf EXCEPT SELECT h FROM bm
      )
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bf) AS n_full,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bm) AS n_merged,
           CAST(n_diff AS BIGINT) AS n_diff,
           (n_diff = 0) AS mergeable
    FROM diff
    """,
    tags=("sketch", "merge", "distinct", "llmdata"),
    doc="Bottom-k of two shard KMV sketches == whole-corpus sketch, hash for hash.",
)
def sketch_kmv_merge(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import kmv_sketch

    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).transform(share)
    full = kmv_sketch(words, "w", k=_KMV_K)
    a = kmv_sketch(words.filter(F.col("doc_id") < 250), "w", k=_KMV_K)
    b = kmv_sketch(words.filter(F.col("doc_id") >= 250), "w", k=_KMV_K)
    merged = (
        a.unionByName(b).select("h").distinct().orderBy("h").limit(_KMV_K)
    )
    n_diff = (
        merged.exceptAll(full.select("h"))
        .unionByName(full.select("h").exceptAll(merged))
        .count()
    )
    n_full = full.count()
    n_merged = merged.count()
    return docs.sparkSession.createDataFrame(
        [(n_full, n_merged, n_diff, n_diff == 0)],
        "n_full bigint, n_merged bigint, n_diff bigint, mergeable boolean",
    )


# --------------------------------------------------------------------------
# HLL mergeability as DATA (closing the sketch-merge family: CMS =
# cell-sum, KMV = bottom-k-of-union, Bloom = bit_or, HLL = register
# max): two half-corpus register tables max-merged must equal the
# whole-corpus register table, register for register.  Max is a
# semilattice join, so per-shard/per-day HLLs compose without rescans —
# this makes that guarantee a queryable report instead of a docstring
# claim.
# --------------------------------------------------------------------------
@register(
    "sketch_hll_merge",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT doc_id, UNNEST(list_transform(range(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS k FROM tok),
    h AS (SELECT doc_id, {_sql_hex32("substr(md5('hll:' || k), 1, 8)")} AS h FROM sh),
    rw AS (SELECT doc_id, CAST(h % 64 AS INT) AS reg_idx, h // 64 AS w FROM h),
    rr AS (SELECT doc_id, reg_idx, {_HLL_RHO_CASE} AS rho FROM rw),
    fl AS (SELECT reg_idx, MAX(rho) AS full_rho FROM rr GROUP BY reg_idx),
    ar AS (SELECT reg_idx, MAX(rho) AS max_rho FROM rr
           WHERE doc_id < 250 GROUP BY reg_idx),
    br AS (SELECT reg_idx, MAX(rho) AS max_rho FROM rr
           WHERE doc_id >= 250 GROUP BY reg_idx),
    mg AS (SELECT reg_idx, MAX(max_rho) AS max_rho
           FROM (SELECT * FROM ar UNION ALL SELECT * FROM br) GROUP BY reg_idx),
    cmp AS (
      SELECT CASE WHEN f.full_rho IS NULL OR m.max_rho IS NULL
                       OR f.full_rho <> m.max_rho THEN 1 ELSE 0 END AS mismatch
      FROM fl f FULL OUTER JOIN mg m ON f.reg_idx = m.reg_idx
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_regs,
           CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
           (SUM(mismatch) = 0) AS mergeable
    FROM cmp
    """,
    tags=("sketch", "merge", "hll", "llmdata"),
    doc="Two half-corpus HLL register tables max-merged == whole-corpus registers.",
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import hll_registers

    docs = read_table(spark, sf_dir, "documents")
    # One explode serves all three sketches (the multi-consumer
    # checkpoint rule); register build is a map-side-combinable MAX.
    sh = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), 3)).alias("w")
    ).transform(share)
    full = hll_registers(sh, "w").withColumnsRenamed({"max_rho": "full_rho"})
    a = hll_registers(sh.filter(F.col("doc_id") < 250), "w")
    b = hll_registers(sh.filter(F.col("doc_id") >= 250), "w")
    merged = (
        a.unionByName(b).groupBy("reg_idx").agg(F.max("max_rho").alias("max_rho"))
    )
    cmp = full.join(merged, "reg_idx", "full")
    mismatch = F.when(
        F.col("full_rho").isNull()
        | F.col("max_rho").isNull()
        | (F.col("full_rho") != F.col("max_rho")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return cmp.agg(
        F.count("*").alias("n_regs"),
        F.sum(mismatch).alias("n_mismatch"),
        (F.sum(mismatch) == 0).alias("mergeable"),
    )


# --------------------------------------------------------------------------
# Bloom mergeability as DATA: bit_or of two half-corpus filters must
# equal the whole-corpus filter word for word (OR is idempotent, so a
# text landing in both halves merges cleanly).  The per-shard filter is
# what a 100 TB decontamination probe actually ships — each crawl
# snapshot builds its own m/32-row filter and the union is one bit_or.
# --------------------------------------------------------------------------
_BLOOM_MERGE_POS = "\n      UNION ALL ".join(
    f"SELECT doc_id, {_sql_bloom_pos('k', j)} AS p FROM kall" for j in range(3)
)


@register(
    "sketch_bloom_merge",
    oracle=f"""
    WITH kall AS (SELECT doc_id, text AS k FROM documents),
    pp AS (
      {_BLOOM_MERGE_POS}
    ),
    bff AS (SELECT CAST(p // 32 AS INT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS full_bits
            FROM pp GROUP BY 1),
    bfa AS (SELECT CAST(p // 32 AS INT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
            FROM pp WHERE doc_id < 250 GROUP BY 1),
    bfb AS (SELECT CAST(p // 32 AS INT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
            FROM pp WHERE doc_id >= 250 GROUP BY 1),
    mg AS (SELECT word_idx, bit_or(bits) AS bits
           FROM (SELECT * FROM bfa UNION ALL SELECT * FROM bfb) GROUP BY 1),
    cmp AS (
      SELECT CASE WHEN f.full_bits IS NULL OR m.bits IS NULL
                       OR f.full_bits <> m.bits THEN 1 ELSE 0 END AS mismatch
      FROM bff f FULL OUTER JOIN mg m ON f.word_idx = m.word_idx
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
           (SUM(mismatch) = 0) AS mergeable
    FROM cmp
    """,
    tags=("sketch", "merge", "bloom", "llmdata"),
    doc="Two half-corpus Bloom filters bit_or-merged == whole-corpus filter.",
)
def sketch_bloom_merge(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import bloom_filter_table

    docs = read_table(spark, sf_dir, "documents")
    keys = share(docs.select("doc_id", F.col("text").alias("k")))
    # No distinct: bit_or is idempotent, so duplicate keys cost one extra
    # explode row and nothing else.
    full = bloom_filter_table(keys, "k", m_bits=_BLOOM_M).withColumnsRenamed(
        {"bits": "full_bits"}
    )
    a = bloom_filter_table(keys.filter(F.col("doc_id") < 250), "k", m_bits=_BLOOM_M)
    b = bloom_filter_table(keys.filter(F.col("doc_id") >= 250), "k", m_bits=_BLOOM_M)
    merged = (
        a.unionByName(b).groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    )
    cmp = full.join(merged, "word_idx", "full")
    mismatch = F.when(
        F.col("full_bits").isNull()
        | F.col("bits").isNull()
        | (F.col("full_bits") != F.col("bits")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return cmp.agg(
        F.count("*").alias("n_words"),
        F.sum(mismatch).alias("n_mismatch"),
        (F.sum(mismatch) == 0).alias("mergeable"),
    )


# --------------------------------------------------------------------------
# Entity resolution stage 2: fuzzy pair graph -> entity clusters.  The
# blocked-Levenshtein pairs (fuzzy_name_pairs) are edges; connected
# components give each name its canonical representative (min name in
# the component) — the same iterative min-label + pointer-jumping
# operator the LSH dup clusters use (operators/dedup.py::
# connected_dup_clusters), proven against a recursive-CTE transitive
# closure.  String labels work unchanged: MIN is lexicographic in both
# engines.
# --------------------------------------------------------------------------
@register(
    "fuzzy_entity_clusters",
    oracle="""
    WITH RECURSIVE n AS (
      SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS blk FROM part
    ),
    pairs AS (
      SELECT a.p_name AS doc_a, b.p_name AS doc_b
      FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 3
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    )
    SELECT v AS p_name, MIN(r) AS entity_id FROM reach GROUP BY v
    """,
    tags=("dedup", "fuzzy", "entity-resolution", "iterative"),
    doc="Entity clusters over the blocked-Levenshtein pair graph (min-name label).",
)
def fuzzy_entity_clusters(spark: SparkSession, sf_dir: str):
    part = read_table(spark, sf_dir, "part")
    names = (
        part.select("p_name")
        .distinct()
        .withColumn("blk", F.split("p_name", " ").getItem(1))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("blk").alias("blk_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("blk").alias("blk_b"))
    pairs = a.join(
        b, (F.col("blk_a") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b"))
    ).filter(F.levenshtein("name_a", "name_b") <= 3)
    return D.connected_dup_clusters(pairs, "name_a", "name_b").select(
        F.col("doc_id").alias("p_name"), F.col("cluster_id").alias("entity_id")
    )


# --------------------------------------------------------------------------
# Near-dup-aware sharding: shard by the shuffle-hash of each document's
# dup-cluster REPRESENTATIVE (own id when un-clustered), so every
# duplicate group lands whole in one shard.  Downstream per-shard work
# (final dedup pass, sequence packing, shard-local stats) then never
# splits a group across files — at 100 TB that turns a global
# cross-shard reconciliation into embarrassingly parallel per-shard
# jobs.  Co-location is BY CONSTRUCTION (shard is a function of the
# representative), so the report only needs the balance stats.
# --------------------------------------------------------------------------
@register(
    "shards_cluster_aligned",
    oracle=f"""
    WITH RECURSIVE tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    reps AS (SELECT v AS doc_id, MIN(r) AS rep FROM reach GROUP BY v),
    lab AS (
      SELECT d.doc_id, COALESCE(rp.rep, d.doc_id) AS rep
      FROM documents d LEFT JOIN reps rp ON d.doc_id = rp.doc_id
    ),
    sh AS (
      SELECT doc_id, rep,
             ({_sql_hex32("substr(md5('7:' || CAST(rep AS VARCHAR)), 1, 8)")})
               % {_N_SHUFFLE_SHARDS} AS shard_big
      FROM lab
    )
    SELECT CAST(shard_big AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) FILTER (WHERE rep <> doc_id) AS BIGINT) AS n_dup_members
    FROM sh GROUP BY 1
    """,
    tags=("training-data", "shuffle", "dedup", "iterative"),
    doc="Shards keyed by dup-cluster representative: groups never straddle shards.",
)
def shards_cluster_aligned(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import shuffle_shard

    docs = read_table(spark, sf_dir, "documents")
    reps = _dup_cluster_reps_shared(spark, sf_dir)
    lab = (
        docs.select("doc_id")
        .join(reps, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("rep")
        )
    )
    return (
        lab.select(
            "doc_id",
            "rep",
            shuffle_shard(F.col("rep"), _N_SHUFFLE_SHARDS, _SHUFFLE_SALT).alias(
                "shard"
            ),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
            F.count_if(F.col("rep") != F.col("doc_id")).alias("n_dup_members"),
        )
    )


# --------------------------------------------------------------------------
# K-fold cross-validation assignment: fold = content-hash bucket mod k —
# the split_assignment doctrine (no RNG; a document keeps its fold
# across re-crawls, repartitions, and engines, so CV never leaks).  The
# report is the fold x source balance matrix a practitioner eyeballs
# before trusting the folds.
# --------------------------------------------------------------------------
_N_FOLDS = 5


@register(
    "split_kfold",
    oracle=f"""
    SELECT CAST({_SQL_DOC_BUCKET} % {_N_FOLDS} AS INT) AS fold, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    tags=("training-data", "split"),
    doc="Deterministic k-fold CV folds (hash-bucket mod k), fold x source balance.",
)
def split_kfold(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sampling import hash_bucket_256

    docs = read_table(spark, sf_dir, "documents")
    fold = (hash_bucket_256(F.col("doc_id")) % _N_FOLDS).cast("int")
    return (
        docs.select(fold.alias("fold"), "source")
        .groupBy("fold", "source")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Dup-cluster keep policy: production dedup doesn't keep the MIN-id copy
# — it keeps the BEST copy (highest lexical diversity here; any
# deterministic score slots in) with id as the tiebreak.  Composes the
# proven cluster operator with the quality column; the per-cluster
# argmax is a map-side-combinable max(struct(score, -id)) — no window
# over the corpus, so a pathological million-member boilerplate cluster
# still aggregates in partial passes.  Singleton docs (no dup pair) are
# their own cluster and keep themselves.
# --------------------------------------------------------------------------
@register(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    reps AS (SELECT v AS doc_id, MIN(r) AS rep FROM reach GROUP BY v),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity
      FROM documents
    ),
    lab AS (
      SELECT d.doc_id, COALESCE(rp.rep, d.doc_id) AS cluster_id, q.diversity
      FROM documents d
      JOIN q ON d.doc_id = q.doc_id
      LEFT JOIN reps rp ON d.doc_id = rp.doc_id
    ),
    rk AS (
      SELECT cluster_id, doc_id, diversity,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY diversity DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM lab
    )
    SELECT cluster_id, doc_id AS kept_doc,
           CAST(n_members AS BIGINT) AS n_members,
           diversity AS best_diversity
    FROM rk WHERE rn = 1
    """,
    tags=("dedup", "lsh", "quality", "iterative"),
    doc="Keep the highest-diversity copy per dup cluster (combinable argmax).",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    reps = _dup_cluster_reps_shared(spark, sf_dir)
    lab = (
        docs.select("doc_id", T.distinct_word_ratio(F.col("text")).alias("diversity"))
        .join(reps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            "diversity",
        )
    )
    best = lab.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("diversity"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b"),
        F.count("*").alias("n_members"),
    )
    return best.select(
        "cluster_id",
        (-F.col("b.neg_id")).alias("kept_doc"),
        "n_members",
        F.col("b.diversity").alias("best_diversity"),
    )


# --------------------------------------------------------------------------
# HLL rollup: per-day sketches merged to a whole-period sketch WITHOUT
# re-scanning the raw stream — the pre-aggregated-sketch pattern that
# makes distinct-count dashboards feasible at 100 TB (store m rows per
# day per dimension cell; answer any date-range distinct query by
# max-merging the stored sketches).  The '__total__' row's registers
# derive from the daily register table, never from events; the exact
# twin rides along so the estimate's error is priced per day AND on the
# merged range.
# --------------------------------------------------------------------------
@register(
    "sketch_hll_daily_rollup",
    oracle=f"""
    WITH k AS (
      SELECT CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS day, user_id
      FROM events
    ),
    h AS (
      SELECT day,
             {_sql_hex32("substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8)")} AS h
      FROM k
    ),
    rw AS (SELECT day, CAST(h % 64 AS INT) AS reg_idx, h // 64 AS w FROM h),
    rr AS (SELECT day, reg_idx, {_HLL_RHO_CASE} AS rho FROM rw),
    daily AS (SELECT day, reg_idx, MAX(rho) AS max_rho FROM rr GROUP BY day, reg_idx),
    total AS (SELECT '__total__' AS day, reg_idx, MAX(max_rho) AS max_rho
              FROM daily GROUP BY reg_idx),
    regs AS (SELECT * FROM daily UNION ALL SELECT * FROM total),
    f AS (
      SELECT day, COUNT(*) AS n_touched,
             list_reduce(
               list_transform(list(max_rho ORDER BY reg_idx),
                              r -> CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << r)),
               (p, q) -> p + q) AS sum_touched
      FROM regs GROUP BY day
    ),
    exd AS (
      SELECT day, COUNT(DISTINCT user_id) AS exact_distinct FROM k GROUP BY day
      UNION ALL
      SELECT '__total__', COUNT(DISTINCT user_id) FROM k
    )
    SELECT f.day, n_touched,
           sum_touched + CAST(64 - n_touched AS DOUBLE) AS sum_inv,
           CAST({_HLL_ALPHA_M2} AS DOUBLE)
             / (sum_touched + CAST(64 - n_touched AS DOUBLE)) AS est_distinct,
           exact_distinct
    FROM f JOIN exd ON f.day = exd.day
    """,
    tags=("sketch", "distinct", "hll", "rollup", "events"),
    doc="Per-day HLL user sketches + no-rescan merged total, exact twins alongside.",
)
def sketch_hll_daily_rollup(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    ev = read_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_trunc("day", "ts").cast("date").cast("string").alias("day"),
        "user_id",
    ).transform(share)
    daily = share(hll_registers(keyed, "user_id", group_cols=("day",)))
    # The merged sketch reads the DAILY REGISTER TABLE, not events.
    total = (
        daily.groupBy("reg_idx")
        .agg(F.max("max_rho").alias("max_rho"))
        .select(F.lit("__total__").alias("day"), "reg_idx", "max_rho")
    )
    regs = daily.unionByName(total)
    est = hll_estimate(regs, group_cols=("day",))
    ex_day = keyed.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    ex_tot = keyed.agg(F.countDistinct("user_id").alias("exact_distinct")).select(
        F.lit("__total__").alias("day"), "exact_distinct"
    )
    exact = ex_day.unionByName(ex_tot)
    return est.join(exact, "day")


# --------------------------------------------------------------------------
# Duplicate-structure census: the cluster-size distribution (how much
# of the corpus sits in 2-doc pairs vs 50-doc boilerplate blobs) — the
# first chart anyone asks for after a dedup pass, and the input to
# choosing df caps / keep policies.  Sizes come from one combinable
# count over the CC labels; the census is a second tiny aggregate over
# the (distinct-cluster)-sized table.
# --------------------------------------------------------------------------
@register(
    "dedup_cluster_census",
    oracle=f"""
    WITH RECURSIVE tok AS ({_SQL_TOK}),
    sig AS (
      SELECT doc_id,
             {_lsh_sigs}
      FROM tok
    ),
    bands AS (
      {_lsh_bands}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    reps AS (SELECT v AS doc_id, MIN(r) AS rep FROM reach GROUP BY v),
    lab AS (
      SELECT d.doc_id, COALESCE(rp.rep, d.doc_id) AS rep
      FROM documents d LEFT JOIN reps rp ON d.doc_id = rp.doc_id
    ),
    sizes AS (SELECT rep, COUNT(*) AS cluster_size FROM lab GROUP BY rep)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    tags=("dedup", "lsh", "audit", "iterative"),
    doc="Cluster-size distribution over CC dup clusters (singletons included).",
)
def dedup_cluster_census(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    reps = _dup_cluster_reps_shared(spark, sf_dir)
    lab = (
        docs.select("doc_id")
        .join(reps, "doc_id", "left")
        .select(F.coalesce("cluster_id", F.col("doc_id")).alias("rep"))
    )
    sizes = lab.groupBy("rep").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).alias("n_docs"),
    )


# --------------------------------------------------------------------------
# Tokenizer round-trip gate as DATA: concatenating a word's BPE tokens
# must reproduce the word exactly, for every word in the vocab — the
# validation a production pipeline runs after every vocab update
# (a lossy tokenizer silently corrupts the training corpus).  True by
# construction here (merges only fuse adjacent spans), which is exactly
# why it belongs in the catalog: the report turning red is the first
# sign a merge-table edit broke segmentation.
# --------------------------------------------------------------------------
def _bpe_roundtrip_oracle(n_rounds: int = _BPE_TRAIN_ROUNDS) -> str:
    recon = "array_to_string(regexp_extract_all(seq, '<([a-z]+)>', 1), '')"
    return (
        _bpe_ctes("FROM documents", n_rounds)
        + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(CASE WHEN {recon} = w THEN 0 ELSE 1 END) AS BIGINT)
             AS n_mismatch,
           (SUM(CASE WHEN {recon} = w THEN 0 ELSE 1 END) = 0) AS roundtrip_ok
    FROM words{n_rounds}"""
    )


@register(
    "text_bpe_roundtrip",
    oracle=_bpe_roundtrip_oracle(),
    tags=("text", "tokens", "bpe", "audit", "llmdata"),
    doc="BPE decode(encode(word)) == word for the whole vocab, as one report row.",
)
def text_bpe_roundtrip(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    enc = bpe_encode_words(docs, _BPE_TRAIN_ROUNDS)
    recon = F.replace(F.col("tokens"), F.lit(" "), F.lit(""))
    mism = F.when(recon == F.col("word"), F.lit(0)).otherwise(F.lit(1))
    return enc.agg(
        F.count("*").alias("n_words"),
        F.sum(mism).alias("n_mismatch"),
        (F.sum(mism) == 0).alias("roundtrip_ok"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 lexical recall -> embedding cosine re-rank —
# the modern two-stage retrieval pipeline (sparse recall for coverage,
# dense re-rank for semantics), composed from two proven operators.
# Query = the fixed term set plus the doc-0 embedding as the dense
# query vector ("more like this, constrained to term matches").
#
# Scale shape: stage 1 is the plan-pinned bm25_topk (query-term filter
# before any shuffle, TakeOrderedAndProject); stage 2 joins the k-row
# candidate set (broadcast — it IS tiny by construction) against the
# embedding table by id and ranks k rows — the only window in the plan
# is bounded by the stage-1 k, the IVF n_probes precedent.  The
# embedding side is never scanned beyond the id join.
# --------------------------------------------------------------------------
_HYBRID_K1, _HYBRID_K2 = 20, 10


def _hybrid_retrieval_oracle() -> str:
    dot_qe = _sql_dot("q.qe", "e.embedding")
    return f"""
    WITH cand AS (
      SELECT * FROM ({_bm25_oracle(k=_HYBRID_K1)})
    ),
    q AS (
      SELECT embedding AS qe,
             sqrt({_sql_dot('embedding', 'embedding')}) AS qnrm
      FROM embeddings WHERE vec_id = 0
    ),
    e AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT c.doc_id, c.score AS bm25_score,
             {dot_qe} / (q.qnrm * e.nrm) AS cos_sim
      FROM cand c JOIN e ON e.vec_id = c.doc_id CROSS JOIN q
    )
    SELECT doc_id, bm25_score, cos_sim, CAST(rk AS INT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {_HYBRID_K2}
    """


@register(
    "text_hybrid_retrieval",
    oracle=_hybrid_retrieval_oracle(),
    tags=("text", "retrieval", "similarity", "topk", "llmdata"),
    doc="BM25 recall (k=20) re-ranked by embedding cosine to the doc-0 query vector.",
)
def text_hybrid_retrieval(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from fotmobdatapipeline_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    cand = bm25_topk(
        docs, list(_BM25_TERMS), k=_HYBRID_K1, k1=_BM25_K1, b=_BM25_B
    ).withColumnRenamed("score", "bm25_score")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        S.l2_norm(F.col("embedding")).alias("qnrm"),
    )
    e = emb.select(
        "vec_id", "embedding", S.l2_norm(F.col("embedding")).alias("nrm")
    )
    scored = (
        F.broadcast(cand)
        .join(e, cand["doc_id"] == e["vec_id"])
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            "bm25_score",
            (S.dot(F.col("qe"), F.col("embedding")) / (F.col("qnrm") * F.col("nrm"))).alias(
                "cos_sim"
            ),
        )
    )
    # Window over exactly k1 rows (the candidate set) — bounded by
    # construction, the n_probes precedent.
    w = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _HYBRID_K2)
    )


# --------------------------------------------------------------------------
# Label-centroid confusion map: pairwise cosine between per-label mean
# embeddings — the class-level semantic audit (near-identical centroids
# = merge candidates or label noise; the embedding-space sibling of
# text_lang_confusion).  Determinism at scale: centroid components are
# ORDER-INSENSITIVE exact decimal sums of round(x, 6) per (label, dim)
# — a combinable groupBy over the exploded components, never an
# ordered fold over a label's (possibly millions of) vectors; only the
# k x d centroid table is re-assembled into arrays, and the pairwise
# stage is k^2/2 rows of sequential-fold cosine.
# --------------------------------------------------------------------------
@register(
    "embedding_label_confusion",
    oracle=f"""
    WITH e AS (SELECT CAST(label AS INT) AS label, embedding FROM embeddings),
    x AS (
      SELECT label, d, embedding[d + 1] AS x
      FROM e, (SELECT UNNEST(range(0, 64)) AS d)
    ),
    cent AS (
      SELECT label, d,
             CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS c
      FROM x GROUP BY label, d
    ),
    ca AS (
      SELECT label,
             list_transform(list(struct_pack(d := d, c := c) ORDER BY d),
                            s -> s.c) AS cv
      FROM cent GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           {_sql_dot('a.cv', 'b.cv')}
             / (sqrt({_sql_dot('a.cv', 'a.cv')})
                * sqrt({_sql_dot('b.cv', 'b.cv')})) AS cos_sim
    FROM ca a JOIN ca b ON a.label < b.label
    """,
    tags=("similarity", "audit", "llmdata"),
    doc="Pairwise cosine between per-label centroid embeddings (exact decimal means).",
)
def embedding_label_confusion(spark: SparkSession, sf_dir: str):
    emb = read_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.col("label").cast("int").alias("label"),
        F.posexplode("embedding").alias("d", "x"),
    )
    cent = x.groupBy("label", "d").agg(
        (
            F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    ca = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    a = ca.select(F.col("label").alias("label_a"), F.col("cv").alias("cva"))
    b = ca.select(F.col("label").alias("label_b"), F.col("cv").alias("cvb"))
    cos = S.dot(F.col("cva"), F.col("cvb")) / (
        S.l2_norm(F.col("cva")) * S.l2_norm(F.col("cvb"))
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", cos.alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# Web-corpus hygiene: URL canonicalization (functions/urls.py) — the
# crawl-pipeline dedup key.  Deterministic synthetic URLs are built from
# doc_id arithmetic (uppercase schemes, default ports, tracking params,
# shuffled param order, fragments, trailing slashes) so both engines
# derive identical inputs; canonicalization must collapse every
# decoration, leaving doc_id % 20 equivalence classes.
# --------------------------------------------------------------------------
_SQL_URL_BUILD = """
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTP' END)
           || '://Blog' || CAST(doc_id % 5 AS VARCHAR)
           || '.Example' || CAST(doc_id % 3 AS VARCHAR)
           || (CASE WHEN doc_id % 2 = 0 THEN '.co.uk' ELSE '.com' END)
           || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
           || '/Articles/' || CAST(doc_id % 20 AS VARCHAR)
           || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
           || (CASE WHEN doc_id % 7 < 3
                 THEN '?utm_source=feed&id=' || CAST(doc_id % 20 AS VARCHAR) || '&b=2'
                 ELSE '?b=2&id=' || CAST(doc_id % 20 AS VARCHAR) || '&gclid=abc'
               END)
           || (CASE WHEN doc_id % 6 = 0 THEN '#Section2' ELSE '' END) AS url
    FROM documents
"""

_SQL_URL_CANON = r"""
    SELECT doc_id, url, scheme || '://' || host || pth
           || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url,
           host
    FROM (
      SELECT doc_id, url, scheme,
             CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
                  ELSE hostraw END AS host,
             regexp_replace(
               regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
               '/+$', '') AS pth,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '&'),
               p -> NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid|ref)=')
                    AND p <> '')), '&') AS q
      FROM (
        SELECT doc_id, url,
               lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw
        FROM u
      )
    )
"""

_SQL_REG_DOMAIN = """
    CASE WHEN len(t) <= 1 THEN array_to_string(t, '.')
         WHEN len(t) >= 3 AND (t[-2] || '.' || t[-1]) IN
           ('co.uk','org.uk','gov.uk','ac.uk','com.au','net.au','org.au',
            'co.jp','co.in','co.nz','com.br','com.cn')
           THEN t[-3] || '.' || t[-2] || '.' || t[-1]
         ELSE t[-2] || '.' || t[-1] END
"""


def _synthetic_urls(spark: SparkSession, sf_dir: str):
    """Spark twin of _SQL_URL_BUILD."""
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("HTTP")),
        F.lit("://Blog"), (d % 5).cast("string"),
        F.lit(".Example"), (d % 3).cast("string"),
        F.when(d % 2 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
        F.when(d % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Articles/"), (d % 20).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 7 < 3,
            F.concat(F.lit("?utm_source=feed&id="), (d % 20).cast("string"), F.lit("&b=2")),
        ).otherwise(
            F.concat(F.lit("?b=2&id="), (d % 20).cast("string"), F.lit("&gclid=abc"))
        ),
        F.when(d % 6 == 0, F.lit("#Section2")).otherwise(F.lit("")),
    )
    return read_table(spark, sf_dir, "documents").select("doc_id", url.alias("url"))


@register(
    "url_canonicalize",
    oracle=f"""
    WITH u AS ({_SQL_URL_BUILD}),
    c AS ({_SQL_URL_CANON})
    SELECT doc_id, url, canonical_url, {_SQL_REG_DOMAIN} AS domain
    FROM (SELECT *, string_split(regexp_replace(regexp_replace(host, '^[^@]*@', ''), ':[0-9]+$', ''), '.') AS t FROM c)
    """,
    tags=("urls", "web-corpus", "canonicalize", "llmdata"),
    doc="RFC-3986-style URL canonicalization: case/port/fragment/tracker/slash "
        "normalization + sorted params, all native expressions.",
)
def url_canonicalize(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.functions import urls as U

    u = _synthetic_urls(spark, sf_dir)
    return u.select(
        "doc_id",
        "url",
        U.canonicalize_url(F.col("url")).alias("canonical_url"),
        U.registrable_domain(U.url_host(F.col("url"))).alias("domain"),
    )


@register(
    "url_dedup_canonical",
    oracle=f"""
    WITH u AS ({_SQL_URL_BUILD}),
    c AS ({_SQL_URL_CANON})
    SELECT canonical_url,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_raw_variants,
           MIN(doc_id) AS keep_doc
    FROM c GROUP BY canonical_url
    ORDER BY canonical_url
    """,
    tags=("urls", "web-corpus", "dedup", "llmdata"),
    doc="URL-level dedup: group by canonical form, count collapsed raw "
        "variants, keep the lowest doc per page.",
)
def url_dedup_canonical(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.functions import urls as U

    u = _synthetic_urls(spark, sf_dir)
    return (
        u.select("doc_id", "url", U.canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("keep_doc"),
        )
        .orderBy("canonical_url")
    )


@register(
    "url_domain_mixture",
    oracle=f"""
    WITH u AS ({_SQL_URL_BUILD}),
    c AS ({_SQL_URL_CANON}),
    d AS (
      SELECT doc_id, {_SQL_REG_DOMAIN} AS domain
      FROM (SELECT *, string_split(regexp_replace(regexp_replace(host, '^[^@]*@', ''), ':[0-9]+$', ''), '.') AS t FROM c)
    )
    SELECT domain, n_docs,
           CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER () AS DOUBLE) AS share
    FROM (SELECT domain, COUNT(*) AS n_docs FROM d GROUP BY domain)
    ORDER BY domain
    """,
    tags=("urls", "web-corpus", "mixture", "llmdata"),
    doc="Per-registrable-domain corpus shares — the input to crawl "
        "domain-mixing caps.",
)
def url_domain_mixture(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from fotmobdatapipeline_spark.functions import urls as U

    u = _synthetic_urls(spark, sf_dir)
    d = u.select(U.registrable_domain(U.url_host(F.col("url"))).alias("domain"))
    # share over a window on the AGGREGATED frame (#domains rows), so the
    # total needs no second pass over the input and no driver collect
    counts = d.groupBy("domain").agg(F.count("*").alias("n_docs"))
    return counts.select(
        "domain",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy()).cast("double")
        ).alias("share"),
    ).orderBy("domain")


@register(
    "url_domain_mixture_psl",
    oracle="""
    WITH hosts AS (
      SELECT CASE WHEN doc_id % 11 = 0 THEN 'com.mx'
                  ELSE 'www.site' || CAST(doc_id % 7 AS VARCHAR) ||
                       CASE WHEN doc_id % 4 = 0 THEN '.com.mx'
                            WHEN doc_id % 4 = 1 THEN '.co.uk'
                            WHEN doc_id % 4 = 2 THEN '.k12.or.us'
                            ELSE '.com' END ||
                       CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END
             END AS host
      FROM documents
    ),
    split AS (
      SELECT host,
             string_split(regexp_replace(host, ':[0-9]+$', ''), '.') AS t
      FROM hosts
    ),
    dom AS (
      SELECT host,
             CASE WHEN len(t) <= 1 THEN t[-1]
                  WHEN len(t) > 3 AND (t[-3] || '.' || t[-2] || '.' || t[-1])
                       IN ('k12.or.us')
                    THEN t[-4] || '.' || t[-3] || '.' || t[-2] || '.' || t[-1]
                  WHEN len(t) = 3 AND (t[-3] || '.' || t[-2] || '.' || t[-1])
                       IN ('k12.or.us')
                    THEN t[-3] || '.' || t[-2] || '.' || t[-1]
                  WHEN len(t) > 2 AND (t[-2] || '.' || t[-1])
                       IN ('com.mx', 'co.uk', 'or.us')
                    THEN t[-3] || '.' || t[-2] || '.' || t[-1]
                  WHEN len(t) = 2 AND (t[-2] || '.' || t[-1])
                       IN ('com.mx', 'co.uk', 'or.us')
                    THEN t[-2] || '.' || t[-1]
                  ELSE t[-2] || '.' || t[-1] END AS domain
      FROM split
    )
    SELECT domain, COUNT(*) AS n_docs FROM dom GROUP BY domain ORDER BY domain
    """,
    tags=("urls", "web-corpus", "mixture", "psl", "llmdata"),
    doc="Domain mixture via PSL-as-data: registrable domains resolved "
        "through a public-suffix TABLE (broadcast per-depth joins), not "
        "the static code list.",
)
def url_domain_mixture_psl(spark: SparkSession, sf_dir: str):
    """PSL-as-data production path (VERDICT r8 #7): the public-suffix
    list arrives as a DataFrame — the monthly-updated artifact a real
    crawl pipeline ships — and resolution is one broadcast join per
    suffix depth (functions/urls.registrable_domains), so the host side
    never shuffles.  The suffix set here includes com.mx and the 3-label
    k12.or.us, both OUTSIDE the static SECOND_LEVEL_SUFFIXES list, and
    or.us to prove longest-match ordering."""
    from fotmobdatapipeline_spark.functions.urls import registrable_domains

    d = F.col("doc_id")
    suffix = (
        F.when(d % 4 == 0, F.lit(".com.mx"))
        .when(d % 4 == 1, F.lit(".co.uk"))
        .when(d % 4 == 2, F.lit(".k12.or.us"))
        .otherwise(F.lit(".com"))
    )
    host = F.when(d % 11 == 0, F.lit("com.mx")).otherwise(
        F.concat(
            F.lit("www.site"),
            (d % 7).cast("string"),
            suffix,
            F.when(d % 13 == 0, F.lit(":8080")).otherwise(F.lit("")),
        )
    )
    hosts = read_table(spark, sf_dir, "documents").select(host.alias("host"))
    psl = spark.createDataFrame(
        [("com.mx",), ("co.uk",), ("k12.or.us",), ("or.us",)], "suffix string"
    )
    return (
        registrable_domains(hosts, "host", psl_df=psl, out_col="domain")
        .groupBy("domain")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("domain")
    )


# --------------------------------------------------------------------------
# Data selection via importance resampling (DSIR, Xie et al. 2023 —
# public method): score raw docs by the hashed-bigram log-likelihood
# ratio of a target model (the doc_id % 50 == 0 eval slice, the
# decontaminate_train convention) over the raw-corpus model.  Models are
# B-row bucket tables (broadcast); the corpus is never shuffled for
# scoring.  ln is not bit-portable across engines (operators/
# selection.py module docstring), so the weight is compared ROUNDED to
# 4 decimals — straddle probability ~1e-9 per doc.
# --------------------------------------------------------------------------
_DSIR_B = 4096


def _sql_dsir_scores() -> str:
    hex32 = _sql_hex32("md5('dsir:' || g)")
    return f"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    gr AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
          ELSE [] END) AS g
      FROM tok
    ),
    pd AS (
      SELECT doc_id, CAST(({hex32}) % {_DSIR_B} AS INT) AS bucket,
             COUNT(*) AS cnt
      FROM gr GROUP BY 1, 2
    ),
    m AS (
      SELECT bucket,
             SUM(CASE WHEN doc_id % 50 = 0 THEN cnt ELSE 0 END) AS ct,
             SUM(CASE WHEN doc_id % 50 <> 0 THEN cnt ELSE 0 END) AS cs
      FROM pd GROUP BY bucket
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cs) AS ns FROM m),
    r AS (
      SELECT bucket,
             ln(((CAST(ct AS DOUBLE) + CAST(1 AS DOUBLE))
                  / (CAST(nt AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))
              / ((CAST(cs AS DOUBLE) + CAST(1 AS DOUBLE))
                  / (CAST(ns AS DOUBLE) + CAST({_DSIR_B} AS DOUBLE)))) AS lnr
      FROM m, tot
    ),
    sc AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             ROUND(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(cnt AS DOUBLE) * lnr ORDER BY bucket)),
               (a, b) -> a + b), 4) AS weight
      FROM pd JOIN r USING (bucket)
      WHERE doc_id % 50 <> 0
      GROUP BY doc_id
    )"""


@register(
    "dsir_importance_topk",
    oracle=f"""
    WITH {_sql_dsir_scores()}
    SELECT doc_id, n_bigrams, weight
    FROM sc ORDER BY weight DESC, doc_id ASC LIMIT 25
    """,
    tags=("selection", "dsir", "llmdata", "importance"),
    doc="DSIR hashed-bigram importance weights, top-25 target-like raw docs "
        "(weight quantized to 4dp for cross-engine compare).",
)
def dsir_importance_topk(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.selection import (
        dsir_logratio_weights,
    )

    docs = read_table(spark, sf_dir, "documents")
    w = dsir_logratio_weights(
        docs, is_target=F.col("doc_id") % 50 == 0, buckets=_DSIR_B
    )
    return w.orderBy(F.desc("weight"), F.asc("doc_id")).limit(25)


# --------------------------------------------------------------------------
# Perplexity quality filter (CCNet, Wenzek et al. 2020 — public method):
# rank the crawl by mean negative log-likelihood under an LM trained on a
# clean reference slice.  The KenLM of the paper becomes the same
# hashed-bigram relaxation DSIR uses, so the model is two <=B-row
# broadcast tables at any corpus size and scoring is one corpus scan.
# ln quantized to 4dp cross-engine (operators/selection.py docstring).
# --------------------------------------------------------------------------
def _sql_lm_scores() -> str:
    """CTE chain ``tok .. sc``: hashed-bigram LM trained on the ref
    slice, per-doc (n_bigrams, nll) for every non-ref doc — shared by
    lm_perplexity_rank and llm_prep_pipeline_v3."""
    return f"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    gr AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
          ELSE [] END) AS g
      FROM tok
    ),
    pd AS (
      SELECT doc_id,
             CAST(({_sql_hex32("md5('lmu:' || string_split(g, ' ')[1])")})
                  % {_DSIR_B} AS INT) AS bu,
             CAST(({_sql_hex32("md5('lmb:' || g)")}) % {_DSIR_B} AS INT) AS bb,
             COUNT(*) AS cnt
      FROM gr GROUP BY 1, 2, 3
    ),
    uni AS (SELECT bu, SUM(cnt) AS cu FROM pd WHERE doc_id % 50 = 0 GROUP BY bu),
    bi  AS (SELECT bb, SUM(cnt) AS cb FROM pd WHERE doc_id % 50 = 0 GROUP BY bb),
    sc AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             ROUND(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list(CAST(cnt AS DOUBLE) *
                      (-ln((CAST(COALESCE(cb, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                           / (CAST(COALESCE(cu, 0) AS DOUBLE)
                              + CAST({_DSIR_B} AS DOUBLE))))
                      ORDER BY bu, bb)),
               (a, b) -> a + b) / CAST(SUM(cnt) AS DOUBLE), 4) AS nll
      FROM pd LEFT JOIN uni USING (bu) LEFT JOIN bi USING (bb)
      WHERE doc_id % 50 <> 0
      GROUP BY doc_id
    )"""


@register(
    "lm_perplexity_rank",
    oracle=f"""
    WITH {_sql_lm_scores()}
    SELECT doc_id, n_bigrams, nll
    FROM sc ORDER BY nll ASC, doc_id ASC LIMIT 25
    """,
    tags=("selection", "perplexity", "quality", "llmdata"),
    doc="CCNet-style perplexity filter: hashed-bigram LM trained on the "
        "reference slice, 25 most-fluent raw docs (nll quantized to 4dp).",
)
def lm_perplexity_rank(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.selection import bigram_lm_nll

    docs = read_table(spark, sf_dir, "documents")
    nll = bigram_lm_nll(docs, is_ref=F.col("doc_id") % 50 == 0, buckets=_DSIR_B)
    return nll.orderBy(F.asc("nll"), F.asc("doc_id")).limit(25)


# --------------------------------------------------------------------------
# GPT-style concat-and-chunk packing: the corpus token stream split into
# blocks of exactly _BLOCK_T tokens, docs crossing boundaries — the
# standard pretraining layout next to pack_sequences' never-split bins.
# Spans come from the distributed two-phase prefix sum (operators/
# prefix.py) — no single-partition window.  All-integer output.
# --------------------------------------------------------------------------
_BLOCK_T = 512


@register(
    "pack_block_fill",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ),
    cum AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS tok_start
      FROM tok
    ),
    spans AS (
      SELECT doc_id, n, tok_start,
             UNNEST(generate_series(tok_start // {_BLOCK_T},
                                    CAST(tok_start + n - 1 AS BIGINT)
                                      // {_BLOCK_T})) AS block_id
      FROM cum WHERE n > 0
    )
    SELECT block_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(tok_start + n, (block_id + 1) * {_BLOCK_T})
                    - GREATEST(tok_start, block_id * {_BLOCK_T})) AS BIGINT)
             AS n_tokens,
           CAST(SUM(CASE WHEN tok_start < block_id * {_BLOCK_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carried_in
    FROM spans GROUP BY block_id ORDER BY block_id
    """,
    tags=("llmdata", "packing", "scale"),
    doc=f"Concat-and-chunk packing audit: per-{_BLOCK_T}-token-block doc "
        "count, fill (exactly full except the tail), boundary carries.",
)
def pack_block_fill(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.prefix import block_spans

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    spans = block_spans(docs, ["doc_id"], "n_tokens", _BLOCK_T)
    return (
        spans.groupBy("block_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("span_tokens").alias("n_tokens"),
            F.sum(F.col("carried_in").cast("long")).alias("n_carried_in"),
        )
        .orderBy("block_id")
    )


# --------------------------------------------------------------------------
# Reproducible epoch shuffle: each training epoch orders the packed
# blocks by a keyed hash (md5('ep<e>:' || block_id)) — the standard
# "seeded permutation without storing a permutation" recipe.  At 100 TB
# the ORDER is consumed by a distributed range sort (terasort shape);
# a rank COLUMN is materialized only for bounded prefixes (here the
# first 10 blocks per epoch via per-epoch TakeOrdered — epochs are a
# constant, never a partition-less window over all blocks).
# --------------------------------------------------------------------------
_EPOCHS = 2


@register(
    "pack_epoch_order",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ),
    cum AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS tok_start
      FROM tok
    ),
    blocks AS (
      SELECT DISTINCT UNNEST(generate_series(tok_start // {_BLOCK_T},
                             CAST(tok_start + n - 1 AS BIGINT) // {_BLOCK_T}))
               AS block_id
      FROM cum WHERE n > 0
    ),
    keyed AS (
      SELECT e.epoch, b.block_id,
             md5('ep' || CAST(e.epoch AS VARCHAR) || ':'
                 || CAST(b.block_id AS VARCHAR)) AS sk
      FROM blocks b
      CROSS JOIN (SELECT UNNEST(range(0, {_EPOCHS})) AS epoch) e
    ),
    ranked AS (
      SELECT epoch, block_id, sk,
             ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY sk, block_id)
               AS position
      FROM keyed
    )
    SELECT CAST(epoch AS INT) AS epoch, CAST(position AS INT) AS position,
           block_id
    FROM ranked WHERE position <= 10 ORDER BY epoch, position
    """,
    tags=("llmdata", "packing", "shuffle", "training-data"),
    doc="Seeded per-epoch block order (keyed-hash sort); first 10 blocks "
        "of each epoch's reproducible permutation.",
)
def pack_epoch_order(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from fotmobdatapipeline_spark.operators.prefix import block_spans

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    blocks = (
        block_spans(docs, ["doc_id"], "n_tokens", _BLOCK_T)
        .select("block_id")
        .distinct()
    )
    per_epoch = []
    for e in range(_EPOCHS):
        sk = F.md5(F.concat(F.lit(f"ep{e}:"), F.col("block_id").cast("string")))
        per_epoch.append(
            blocks.select(
                F.lit(e).alias("epoch"), F.col("block_id"), sk.alias("sk")
            )
            # Bounded prefix: TakeOrderedAndProject per epoch — the rank
            # column exists only over the 10 survivors.
            .orderBy("sk", "block_id")
            .limit(10)
        )
    union = per_epoch[0]
    for p in per_epoch[1:]:
        union = union.unionByName(p)
    w = Window.partitionBy("epoch").orderBy("sk", "block_id")
    return (
        union.withColumn("position", F.row_number().over(w).cast("int"))
        .select("epoch", "position", "block_id")
        .orderBy("epoch", "position")
    )


# --------------------------------------------------------------------------
# Banned-phrase blocklist (the C4 badwords step, Raffel et al. 2020):
# phrase list as a broadcast TABLE, every word n-gram occurrence of the
# listed lengths matched in one corpus scan.  All-integer output.
# --------------------------------------------------------------------------
_BLOCKLIST = ("slow scan", "table table", "big vector", "fast merge batch")


@register(
    "text_blocklist_hits",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g2 AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
          ELSE [] END) AS g
      FROM tok
    ),
    g3 AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 3
          THEN list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
          ELSE [] END) AS g
      FROM tok
    ),
    grams AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3),
    bl(g) AS (VALUES {", ".join(f"('{p}')" for p in _BLOCKLIST)}),
    hits AS (SELECT doc_id, g FROM grams JOIN bl USING (g))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_phrases
    FROM hits GROUP BY doc_id
    ORDER BY n_hits DESC, doc_id ASC LIMIT 50
    """,
    tags=("text", "blocklist", "quality", "llmdata"),
    doc="C4-style banned-phrase filter: phrase table broadcast into a "
        "one-scan n-gram occurrence join; top-50 most-flagged docs.",
)
def text_blocklist_hits(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.dedup import blocklist_hits

    docs = read_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame([(p,) for p in _BLOCKLIST], "phrase string")
    return (
        blocklist_hits(docs, phrases)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# The modern corpus recipe end-to-end (C4 blocklist -> CCNet perplexity
# cut -> exact dedup -> concat-and-chunk packing): four proven tiers
# composed into one pipeline whose final state is training-ready blocks.
# The LM is trained on the FULL corpus's reference slice (CCNet trains
# on clean reference text independent of crawl filtering); the
# perplexity cut is a fixed threshold (CCNet's head/middle/tail buckets
# are fixed cuts — a global median would need a second pass).
# --------------------------------------------------------------------------
_V3_NLL_MAX = 7.95


@register(
    "llm_prep_pipeline_v3",
    oracle=f"""
    WITH {_sql_lm_scores()},
    g2 AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
          ELSE [] END) AS g
      FROM tok
    ),
    g3 AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 3
          THEN list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
          ELSE [] END) AS g
      FROM tok
    ),
    bl(g) AS (VALUES {", ".join(f"('{p}')" for p in _BLOCKLIST)}),
    flagged AS (
      SELECT DISTINCT doc_id
      FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3) grams
      JOIN bl USING (g)
    ),
    fluent AS (
      SELECT d.doc_id, d.text
      FROM documents d
      JOIN sc ON sc.doc_id = d.doc_id
      LEFT JOIN flagged f ON d.doc_id = f.doc_id
      WHERE f.doc_id IS NULL AND sc.nll <= CAST({_V3_NLL_MAX} AS DOUBLE)
    ),
    fst AS (SELECT text, MIN(doc_id) AS keeper FROM fluent GROUP BY text),
    kept AS (
      SELECT fl.doc_id, len(string_split(fl.text, ' ')) AS n
      FROM fluent fl JOIN fst ON fl.doc_id = fst.keeper
    ),
    cum AS (
      SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS tok_start
      FROM kept
    ),
    spans AS (
      SELECT doc_id, n, tok_start,
             UNNEST(generate_series(tok_start // {_BLOCK_T},
                                    CAST(tok_start + n - 1 AS BIGINT)
                                      // {_BLOCK_T})) AS block_id
      FROM cum WHERE n > 0
    )
    SELECT block_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(tok_start + n, (block_id + 1) * {_BLOCK_T})
                    - GREATEST(tok_start, block_id * {_BLOCK_T})) AS BIGINT)
             AS n_tokens,
           CAST(SUM(CASE WHEN tok_start < block_id * {_BLOCK_T} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carried_in
    FROM spans GROUP BY block_id ORDER BY block_id
    """,
    tags=("llmdata", "pipeline", "blocklist", "perplexity", "dedup", "packing"),
    doc="Modern corpus recipe end-to-end: C4 blocklist drop -> CCNet "
        "perplexity cut -> exact dedup -> 512-token training blocks.",
)
def llm_prep_pipeline_v3(spark: SparkSession, sf_dir: str):
    """Composition shape: the blocklist drop is a broadcast-join
    anti-filter (map-side), the perplexity cut reuses the one-scan
    LM scorer (ref docs fall out naturally — they carry no nll row),
    exact dedup is one hash groupBy keeping the min doc, and packing is
    the distributed prefix sum.  No stage shuffles more than its own
    aggregate; the corpus text rides exactly two scans (LM scoring +
    the blocklist/dedup/packing chain off the second)."""
    from fotmobdatapipeline_spark.operators.dedup import blocklist_hits
    from fotmobdatapipeline_spark.operators.prefix import block_spans
    from fotmobdatapipeline_spark.operators.selection import bigram_lm_nll

    docs = read_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame([(p,) for p in _BLOCKLIST], "phrase string")
    flagged = blocklist_hits(docs, phrases).select("doc_id")
    fluent_ids = (
        bigram_lm_nll(docs, is_ref=F.col("doc_id") % 50 == 0, buckets=_DSIR_B)
        .filter(F.col("nll") <= F.lit(_V3_NLL_MAX))
        .select("doc_id")
    )
    fluent = (
        docs.join(flagged, "doc_id", "left_anti")
        .join(fluent_ids, "doc_id")
        .select("doc_id", "text")
    )
    keepers = fluent.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    kept = keepers.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    spans = block_spans(kept, ["doc_id"], "n_tokens", _BLOCK_T)
    return (
        spans.groupBy("block_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("span_tokens").alias("n_tokens"),
            F.sum(F.col("carried_in").cast("long")).alias("n_carried_in"),
        )
        .orderBy("block_id")
    )


# --------------------------------------------------------------------------
# Quality-classifier training: hashed-token linear probe (ridge via GD on
# exact sufficient statistics).  The classifier-filter step of the public
# corpus recipes (GPT-3 quality filter, CCNet) as an ENGINE operator: one
# zero-shuffle Gram scan + driver-side gradient descent — pure rational
# arithmetic end to end, so weights, scores, and predictions are
# BIT-exact across engines with no rounding (operators/classifier.py
# module docstring).  The oracle unrolls the identical float program:
# same left-associated S·w chains, same update expression, same
# exact-binary lr/lam literals.  Label: n_chars >= 250 — the length-
# quality heuristic every corpus pipeline starts from (learnable from
# token counts, so the demo probe reaches ~0.97 train accuracy).
# --------------------------------------------------------------------------
_CLF_D = 8
_CLF_LR = 1.0 / 1024
_CLF_LAM = 1.0 / 16
_CLF_ITERS = 4
_CLF_LABEL_SQL = "CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END"


def _clf_label():
    return F.col("n_chars") >= 250


def _clf_g(j: int, k: int) -> str:
    return f"g_{min(j, k)}_{max(j, k)}"


def _sql_clf_ctes(d: int = _CLF_D) -> str:
    """CTE chain: feat -> gram -> wi0..wi{iters} (unrolled GD).

    Float-op order mirrors operators/classifier.py::gd_weights token
    for token: ascending-k left-associated S·w chain, then
    ((chain - b_j)/n + lam*w_j), then w_j - lr*(...).  lr/lam are
    exact binary fractions so the literals parse identically."""
    hex32 = _sql_hex32("md5('clf:' || t)")

    def zterm(i: int) -> str:
        if i < d:
            return f"xs[{i + 1}]"
        return "1" if i == d else "y"

    gram = ",\n             ".join(
        f"SUM({zterm(j)} * {zterm(k)}) AS g_{j}_{k}"
        for j in range(d + 2)
        for k in range(j, d + 2)
    )
    lr, lam = repr(_CLF_LR), repr(_CLF_LAM)
    zeros = ", ".join(f"CAST(0 AS DOUBLE) AS w{j}" for j in range(d + 1))
    iters = [f"wi0 AS (SELECT {zeros})"]
    for t in range(1, _CLF_ITERS + 1):
        upd = []
        for j in range(d + 1):
            chain = " + ".join(
                f"CAST({_clf_g(j, k)} AS DOUBLE) * w{k}" for k in range(d + 1)
            )
            upd.append(
                f"w{j} - CAST({lr} AS DOUBLE) * ((({chain}) "
                f"- CAST(g_{j}_{d + 1} AS DOUBLE)) / CAST(g_{d}_{d} AS DOUBLE) "
                f"+ CAST({lam} AS DOUBLE) * w{j}) AS w{j}"
            )
        iters.append(
            f"wi{t} AS (SELECT " + ",\n               ".join(upd)
            + f" FROM gram, wi{t - 1})"
        )
    iter_ctes = ",\n    ".join(iters)
    return f"""
    tokc AS (
      SELECT doc_id, n_chars,
             list_transform(string_split(text, ' '),
                            t -> CAST(({hex32}) % {d} AS INT)) AS bks
      FROM documents
    ),
    feat AS (
      SELECT doc_id, {_CLF_LABEL_SQL} AS y,
             list_transform(range(0, {d}),
                            j -> len(list_filter(bks, b -> b = j))) AS xs
      FROM tokc
    ),
    gram AS (
      SELECT {gram}
      FROM feat
    ),
    {iter_ctes}"""


def _sql_clf_score_chain(d: int = _CLF_D) -> str:
    """Per-doc score x·w + bias, same left-assoc ascending-j order as
    operators/classifier.py::probe_score_expr."""
    chain = " + ".join(f"CAST(xs[{j + 1}] AS DOUBLE) * w{j}" for j in range(d))
    return f"{chain} + w{d}"


@register(
    "clf_probe_weights",
    oracle=lambda: f"""
    WITH {_sql_clf_ctes()}
    {" UNION ALL ".join(
        f"SELECT {j} AS feature, w{j} AS weight FROM wi{_CLF_ITERS}"
        for j in range(_CLF_D + 1)
    )}
    """,
    tags=("classifier", "llmdata", "training"),
    doc="Linear quality-probe weights after 4 GD iterations on the exact "
        "Gram statistics — distributed model TRAINING, bit-exact vs the "
        "oracle's unrolled-GD replay (bias = feature 8).",
)
def clf_probe_weights(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.classifier import train_linear_probe

    docs = read_table(spark, sf_dir, "documents")
    w = train_linear_probe(
        docs, _clf_label(), d=_CLF_D, lr=_CLF_LR, lam=_CLF_LAM,
        iters=_CLF_ITERS,
    )
    return spark.createDataFrame(
        list(enumerate(w)), "feature int, weight double"
    )


@register(
    "clf_probe_scores",
    oracle=lambda: f"""
    WITH {_sql_clf_ctes()}
    SELECT doc_id, y, {_sql_clf_score_chain()} AS score,
           CASE WHEN {_sql_clf_score_chain()} >= CAST(0.5 AS DOUBLE)
                THEN 1 ELSE 0 END AS pred
    FROM feat, wi{_CLF_ITERS}
    """,
    tags=("classifier", "llmdata", "training"),
    doc="Every document scored by the trained probe (train + deploy in "
        "one plan): score = x·w + bias, raw doubles, bit-exact — no "
        "quantization needed because the whole program is rational.",
)
def clf_probe_scores(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.classifier import (
        probe_score_expr,
        train_linear_probe,
    )

    docs = read_table(spark, sf_dir, "documents")
    w = train_linear_probe(
        docs, _clf_label(), d=_CLF_D, lr=_CLF_LR, lam=_CLF_LAM,
        iters=_CLF_ITERS,
    )
    score = probe_score_expr(F.col("text"), w, _CLF_D)
    return docs.select(
        "doc_id",
        _clf_label().cast("int").alias("y"),
        score.alias("score"),
        (score >= F.lit(0.5)).cast("int").alias("pred"),
    )


@register(
    "clf_probe_eval",
    oracle=lambda: f"""
    WITH {_sql_clf_ctes()},
    sc AS (
      SELECT y, CASE WHEN {_sql_clf_score_chain()} >= CAST(0.5 AS DOUBLE)
                     THEN 1 ELSE 0 END AS pred
      FROM feat, wi{_CLF_ITERS}
    )
    SELECT y, pred, COUNT(*) AS n FROM sc GROUP BY y, pred
    """,
    tags=("classifier", "llmdata", "training"),
    doc="Train-set confusion matrix of the quality probe — the audit "
        "view a filtering deployment gates on (~0.97 accuracy on the "
        "length-quality label).",
)
def clf_probe_eval(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.classifier import (
        probe_score_expr,
        train_linear_probe,
    )

    docs = read_table(spark, sf_dir, "documents")
    w = train_linear_probe(
        docs, _clf_label(), d=_CLF_D, lr=_CLF_LR, lam=_CLF_LAM,
        iters=_CLF_ITERS,
    )
    score = probe_score_expr(F.col("text"), w, _CLF_D)
    return (
        docs.select(
            _clf_label().cast("int").alias("y"),
            (score >= F.lit(0.5)).cast("int").alias("pred"),
        )
        .groupBy("y", "pred")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Real COMPRESSED-format decode: PNG (multimodal/png.py — stdlib zlib
# inflate + per-scanline filter reconstruction, the encoder cycling
# None/Sub/Up/Paeth so a header-skip cannot pass).  Same proof shape as
# multimodal_bmp_decode: the oracle recomputes the pixel-material
# checksums from the PRE-encode text bytes, so a value match IS
# decode(encode(x)) == x through a genuinely compressed container.
# n_bytes is deliberately not surfaced (compressed size is a zlib
# implementation detail, not pipeline semantics).
# --------------------------------------------------------------------------
_PNG_W, _PNG_H = 8, 4


@register(
    "multimodal_png_decode",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    bytes AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             CASE WHEN i < n THEN
               (strpos('0123456789abcdef', substr(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(hx, CAST(2 * i + 2 AS INT), 1)) - 1)
             ELSE 0 END AS bv
      FROM b, UNNEST(range(0, {_PNG_W * _PNG_H * 3})) AS u(i)
    ),
    stats AS (
      SELECT doc_id,
             MAX(CASE WHEN i = 0 THEN bv END) AS first_byte,
             SUM(bv) AS total,
             SUM((i + 1) * bv) AS weighted
      FROM bytes GROUP BY doc_id
    )
    SELECT doc_id, '89504E47' AS header_hex,
           CAST({_PNG_W} AS VARCHAR) || ',' || CAST({_PNG_H} AS VARCHAR) || ','
             || CAST(first_byte AS VARCHAR) || ','
             || CAST(total AS VARCHAR) || ','
             || CAST(weighted AS VARCHAR) AS feature_csv
    FROM stats
    """,
    tags=("multimodal", "pandas-udf", "codec", "decode", "compressed"),
    doc="Real PNG encode->decode roundtrip (zlib + filter reconstruction).",
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_features,
        png_feature_decoder,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    png = encode_media_as_png(media, width=_PNG_W, height=_PNG_H)
    feats = extract_features(png, decoder=png_feature_decoder)
    return feats.select(
        "doc_id",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("long").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Compressibility quality signal (functions/compressibility.py): the
# Gopher/MassiveText repetitiveness filter — DEFLATE size over raw
# size, low ratio = templated/degenerate text.  The oracle is built at
# oracle_sql() time (the deferred-callable contract, like the fotmob
# landing zone): an independent sequential path — DuckDB parquet read,
# local stdlib zlib — recomputes every size and embeds them as VALUES,
# so the distributed Arrow-batched UDF must byte-match a non-Spark
# computation of the same pure function.
# --------------------------------------------------------------------------
# Deferred oracles are pinned to the driver contract's compare SF —
# the driver always runs oracle_sql() against sf0.01 (same pinning as
# the fotmob landing-zone oracle).  tools/driver_sim.py warns when
# invoked with any other sf_dir.
_DEFERRED_ORACLE_SF = "/root/testdata/sf0.01"


def _deflate_oracle() -> str:
    import zlib as _z

    import duckdb as _d

    rows = _d.sql(
        "SELECT doc_id, text FROM "
        f"read_parquet('{_DEFERRED_ORACLE_SF}/documents.parquet')"
    ).fetchall()
    vals = ",".join(
        f"({i},{len(t.encode('utf-8'))},"
        f"{len(_z.compress(t.encode('utf-8'), 6))})"
        for i, t in rows
    )
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_raw AS INTEGER) AS n_raw,
           CAST(n_deflate AS INTEGER) AS n_deflate,
           CAST(n_deflate AS DOUBLE) / CAST(n_raw AS DOUBLE) AS ratio
    FROM (VALUES {vals}) AS t(doc_id, n_raw, n_deflate)
    """


@register(
    "text_compression_ratio",
    oracle=_deflate_oracle,
    tags=("text", "quality", "pandas-udf"),
    doc="DEFLATE compressibility quality signal; independent local-zlib oracle.",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.functions.compressibility import deflate_ratio
    from fotmobdatapipeline_spark.session import ship_package

    ship_package(spark)
    return deflate_ratio(read_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Heaps'-law vocabulary growth: cumulative distinct words vs cumulative
# tokens at ten corpus checkpoints (doc_id deciles) — the curve that
# sizes a tokenizer's vocabulary before training one.  Scale shape: NO
# global ordering anywhere — checkpoints are doc_id value ranges off a
# 1-row max scalar, each word contributes min(first checkpoint seen)
# via one map-side-combinable aggregate, and the cumulation runs over
# exactly 10 rows.
# --------------------------------------------------------------------------
@register(
    "text_heaps_curve",
    oracle="""
    WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
    tok AS (
      SELECT CAST(LEAST(9, (doc_id * 10) // ((SELECT m FROM mx) + 1)) AS INT)
               AS decile,
             UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ),
    per_decile AS (
      SELECT decile, COUNT(*) AS n_tokens FROM tok GROUP BY decile
    ),
    firsts AS (
      SELECT w, MIN(decile) AS first_decile FROM tok GROUP BY w
    ),
    new_words AS (
      SELECT first_decile AS decile, COUNT(*) AS n_new FROM firsts GROUP BY 1
    )
    SELECT d.decile,
           CAST(SUM(d.n_tokens) OVER (ORDER BY d.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY d.decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_distinct_words
    FROM per_decile d LEFT JOIN new_words nw ON nw.decile = d.decile
    """,
    tags=("text", "corpus-stats", "tokenizer"),
    doc="Heaps-law vocab growth at ten corpus checkpoints; no global sort.",
)
def text_heaps_curve(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    decile = F.least(
        F.lit(9), F.expr("(doc_id * 10) div (m + 1)")
    ).cast("int")
    tok = (
        docs.crossJoin(F.broadcast(mx))  # 1-row scalar by construction
        .select(decile.alias("decile"), F.explode(F.split("text", " ")).alias("w"))
        .transform(share)
    )
    per_decile = tok.groupBy("decile").agg(F.count("*").alias("n_tokens"))
    new_words = (
        tok.groupBy("w")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("n_new"))
    )
    from pyspark.sql import Window

    w10 = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    joined = per_decile.join(new_words, "decile", "left")
    return joined.select(
        "decile",
        F.sum("n_tokens").over(w10).alias("cum_tokens"),
        F.sum(F.coalesce(F.col("n_new"), F.lit(0))).over(w10).alias(
            "cum_distinct_words"
        ),
    )


# --------------------------------------------------------------------------
# Probe calibration audit: reliability bins over the trained probe's
# scores — per score-decile bin, how often is the label actually 1?
# (The deployment question behind every threshold choice.)  Bin stats
# are exact integers (count, positives) with one final IEEE division;
# the bin id is floor(score*10) clamped, identical double math in both
# engines because the score chain itself is bit-exact.
# --------------------------------------------------------------------------
@register(
    "clf_probe_calibration",
    oracle=lambda: f"""
    WITH {_sql_clf_ctes()},
    sc AS (
      SELECT y, {_sql_clf_score_chain()} AS score FROM feat, wi{_CLF_ITERS}
    ),
    b AS (
      SELECT y,
             GREATEST(0, LEAST(9, CAST(FLOOR(score * 10) AS INT))) AS bin
      FROM sc
    )
    SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS frac_pos
    FROM b GROUP BY bin
    """,
    tags=("classifier", "llmdata", "calibration"),
    doc="Reliability bins of the trained probe; integer-exact bin stats.",
)
def clf_probe_calibration(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.classifier import (
        probe_score_expr,
        train_linear_probe,
    )

    docs = read_table(spark, sf_dir, "documents")
    w = train_linear_probe(
        docs, _clf_label(), d=_CLF_D, lr=_CLF_LR, lam=_CLF_LAM,
        iters=_CLF_ITERS,
    )
    score = probe_score_expr(F.col("text"), w, _CLF_D)
    bin_id = F.greatest(
        F.lit(0), F.least(F.lit(9), F.floor(score * 10).cast("int"))
    )
    return (
        docs.select(_clf_label().cast("int").alias("y"), bin_id.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("y").cast("bigint").alias("n_pos"))
        .select(
            "bin",
            "n",
            "n_pos",
            (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "frac_pos"
            ),
        )
    )


# --------------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified rerank: greedy
# relevance-vs-redundancy selection over the brute-force shortlist —
# the diversity-aware retrieval step RAG corpus builders run after ANN
# (Carbonell & Goldstein 1998).  Scale shape: the DATA-scale stage is
# the shortlist TakeOrderedAndProject; the greedy rounds touch only
# shortlist x selected (<= 12 x 4 rows, checkpointed per round), so
# corpus size never enters the iteration.  Round 1 scores are raw
# cosine (empty selected set); later rounds lam*cos - mu*max-sim with
# the identical fold/operand order in both engines — bit-exact.
# --------------------------------------------------------------------------
_MMR_SHORT, _MMR_K = 12, 4
_MMR_LAM, _MMR_MU = 0.7, 0.3


def _mmr_oracle() -> str:
    dot_cs = _sql_dot("c.embedding", "s.embedding")
    rounds = []
    for r in range(2, _MMR_K + 1):
        rounds.append(f""",
    pen{r} AS (
      SELECT c.vec_id,
             MAX({dot_cs} / (c.nrm * s.nrm)) AS pen
      FROM short c, sel{r - 1} s
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
      GROUP BY c.vec_id
    ),
    p{r} AS MATERIALIZED (
      SELECT c.vec_id, c.embedding, c.nrm, c.cos_q,
             CAST({_MMR_LAM} AS DOUBLE) * c.cos_q
               - CAST({_MMR_MU} AS DOUBLE) * p.pen AS mmr,
             CAST({r} AS INT) AS rank
      FROM short c JOIN pen{r} p USING (vec_id)
      ORDER BY mmr DESC, c.vec_id ASC LIMIT 1
    ),
    sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM p{r})"""
        )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM v WHERE vec_id = 0),
    cand AS (
      SELECT vec_id, embedding, nrm,
             {_sql_dot('embedding', 'q_emb')} / (nrm * q_nrm) AS cos_q
      FROM v, q WHERE vec_id <> 0
    ),
    short AS MATERIALIZED (
      SELECT * FROM cand ORDER BY cos_q DESC, vec_id ASC LIMIT {_MMR_SHORT}
    ),
    p1 AS MATERIALIZED (
      SELECT vec_id, embedding, nrm, cos_q, cos_q AS mmr, CAST(1 AS INT) AS rank
      FROM short ORDER BY cos_q DESC, vec_id ASC LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT * FROM p1){"".join(rounds)}
    SELECT rank, vec_id, cos_q, mmr AS mmr_score FROM sel{_MMR_K}
    """


@register(
    "sim_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("similarity", "rerank", "diversity", "iterative"),
    doc="MMR diversified rerank over the brute-force shortlist; bit-exact greedy.",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.similarity import dot, l2_norm

    emb = read_table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
    q = v.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    cand = (
        v.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))  # 1-row query vector by construction
        .select(
            "vec_id",
            "embedding",
            "nrm",
            (
                dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm"))
            ).alias("cos_q"),
        )
    )
    short = (
        cand.orderBy(F.desc("cos_q"), F.asc("vec_id"))
        .limit(_MMR_SHORT)
        .transform(truncate)
    )
    selected = None
    for r in range(1, _MMR_K + 1):
        if selected is None:
            scored = short.withColumn("mmr", F.col("cos_q"))
        else:
            sel_ids = selected.select(F.col("vec_id").alias("sid"))
            rem = short.join(sel_ids, short.vec_id == sel_ids.sid, "left_anti")
            s = selected.select(
                F.col("embedding").alias("s_emb"), F.col("nrm").alias("s_nrm")
            )
            pen = (
                rem.crossJoin(F.broadcast(s))  # <= shortlist x k rows
                .select(
                    "vec_id",
                    (
                        dot(F.col("embedding"), F.col("s_emb"))
                        / (F.col("nrm") * F.col("s_nrm"))
                    ).alias("sim"),
                )
                .groupBy("vec_id")
                .agg(F.max("sim").alias("pen"))
            )
            scored = rem.join(pen, "vec_id").withColumn(
                "mmr",
                F.lit(_MMR_LAM) * F.col("cos_q") - F.lit(_MMR_MU) * F.col("pen"),
            )
        pick = (
            scored.orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .select(
                "vec_id",
                "embedding",
                "nrm",
                "cos_q",
                "mmr",
                F.lit(r).cast("int").alias("rank"),
            )
            .transform(truncate)
        )
        selected = (
            pick
            if selected is None
            else truncate(selected.unionByName(pick))
        )
    return selected.select("rank", "vec_id", "cos_q", F.col("mmr").alias("mmr_score"))


# --------------------------------------------------------------------------
# Audio signal features over the REAL WAV decode: energy (sum of
# squared int16 samples), zero-crossing count, and peak amplitude —
# the classic signal summary every audio-curation pipeline computes
# (silence/clipping gates, speech-vs-tone heuristics).  All exact
# integers; the oracle recomputes them from the pre-encode sample
# material (the multimodal proof shape), with the ZCR as a LAG window
# over the fixed per-doc sample expansion.
# --------------------------------------------------------------------------
@register(
    "multimodal_wav_features",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    smp AS (
      SELECT doc_id, CAST(j AS INT) AS j,
             (CASE WHEN 2 * j < n THEN
                (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 2 AS INT), 1)) - 1)
              ELSE 0 END)
           + 256 * (CASE WHEN 2 * j + 1 < n THEN
                (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 3 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 4 AS INT), 1)) - 1)
              ELSE 0 END) AS u
      FROM b, UNNEST(range(0, {_WAV_N})) AS t(j)
    ),
    sgn AS (
      SELECT doc_id, j,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      FROM smp
    ),
    lagged AS (
      SELECT doc_id, j, s,
             LAG(s) OVER (PARTITION BY doc_id ORDER BY j) AS prev
      FROM sgn
    )
    SELECT doc_id,
           CAST({_WAV_N} AS BIGINT) AS n_samples,
           CAST(SUM(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
           CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND (s < 0) <> (prev < 0) THEN 1 ELSE 0 END) AS BIGINT)
             AS zero_crossings,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs
    FROM lagged GROUP BY doc_id
    """,
    tags=("multimodal", "pandas-udf", "codec", "audio"),
    doc="WAV energy/ZCR/peak from the real decode; integer-exact oracle.",
)
def multimodal_wav_features(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import attach_binary_payload
    from fotmobdatapipeline_spark.multimodal.binary_ops import (
        encode_media_as_wav,
        extract_wav_signal_stats,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    wav = encode_media_as_wav(media, sample_rate=_WAV_RATE, n_samples=_WAV_N)
    return extract_wav_signal_stats(wav)


# --------------------------------------------------------------------------
# Goertzel tone detection over the REAL WAV decode: energy of one DFT
# bin via the two-term recurrence — the DSP primitive behind DTMF /
# pilot-tone / hum checks in audio curation, here as the proof that a
# genuine frequency-domain feature can be oracle-exact: Python's float
# loop and DuckDB's list_reduce replay the identical IEEE double
# sequence.  Power rides the LONG/DOUBLE signal-stats shape (a float32
# feature array would destroy it; see multimodal_wav_features).
# --------------------------------------------------------------------------
@register(
    "multimodal_wav_goertzel",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    smp AS (
      SELECT doc_id, CAST(j AS INT) AS j,
             (CASE WHEN 2 * j < n THEN
                (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 2 AS INT), 1)) - 1)
              ELSE 0 END)
           + 256 * (CASE WHEN 2 * j + 1 < n THEN
                (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 3 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, CAST(4 * j + 4 AS INT), 1)) - 1)
              ELSE 0 END) AS u
      FROM b, UNNEST(range(0, {_WAV_N})) AS t(j)
    ),
    sig AS (
      SELECT doc_id,
             list(CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS DOUBLE)
                  ORDER BY j) AS xs
      FROM smp GROUP BY doc_id
    ),
    fold AS (
      SELECT doc_id,
             list_reduce(
               list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
                            list_transform(xs, v -> [v, v])),
               (a, x) -> [
                 x[1] + CAST(1.3382612127177165 AS DOUBLE) * a[1] - a[2],
                 a[1]
               ]) AS st
      FROM sig
    )
    SELECT doc_id,
           st[1] * st[1] + st[2] * st[2]
             - CAST(1.3382612127177165 AS DOUBLE) * st[1] * st[2] AS tone_power
    FROM fold
    """,
    tags=("multimodal", "pandas-udf", "codec", "audio", "dsp"),
    doc="Goertzel single-bin DFT energy from the real decode; bit-exact fold.",
)
def multimodal_wav_goertzel(spark: SparkSession, sf_dir: str):
    import pandas as pd  # noqa: F401 — worker-side

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from fotmobdatapipeline_spark.multimodal import attach_binary_payload
    from fotmobdatapipeline_spark.multimodal.binary_ops import (
        _ship_for_workers,
        encode_media_as_wav,
    )
    from fotmobdatapipeline_spark.multimodal.wav import wav_goertzel_power

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    wav = encode_media_as_wav(media, sample_rate=_WAV_RATE, n_samples=_WAV_N)
    _ship_for_workers(wav, wav_goertzel_power)
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("tone_power", DoubleType())]
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tone_power": [
                        wav_goertzel_power(bytes(b)) for b in pdf["payload"]
                    ],
                }
            )

    return wav.select("doc_id", "payload").mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# Real PNG resize: decode (inflate + filter reconstruction) ->
# nearest-neighbor scale -> re-encode -> decode again for the checksum.
# 8x4 -> 4x2 halves both axes, so output byte j samples source byte
# 48*(j//12) + 6*((j%12)//3) + j%3 — the oracle recomputes the sampled
# checksums from the pre-encode text bytes; a resizer that skipped the
# real decode (or botched a filter) cannot produce them.
# --------------------------------------------------------------------------
_PNG_RW, _PNG_RH = 4, 2


@register(
    "multimodal_png_resize",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    ob AS (
      SELECT doc_id, CAST(j AS INT) AS j,
             CAST(48 * (j // 12) + 6 * ((j % 12) // 3) + j % 3 AS INT) AS src
      FROM b, UNNEST(range(0, {_PNG_RW * _PNG_RH * 3})) AS t(j)
    ),
    bytes AS (
      SELECT ob.doc_id, ob.j,
             CASE WHEN ob.src < b.n THEN
               (strpos('0123456789abcdef', substr(b.hx, CAST(2 * ob.src + 1 AS INT), 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * ob.src + 2 AS INT), 1)) - 1)
             ELSE 0 END AS bv
      FROM ob JOIN b USING (doc_id)
    ),
    stats AS (
      SELECT doc_id,
             MAX(CASE WHEN j = 0 THEN bv END) AS first_byte,
             SUM(bv) AS total,
             SUM((j + 1) * bv) AS weighted
      FROM bytes GROUP BY doc_id
    )
    SELECT doc_id, '89504E47' AS header_hex,
           CAST({_PNG_RW} AS VARCHAR) || ',' || CAST({_PNG_RH} AS VARCHAR) || ','
             || CAST(first_byte AS VARCHAR) || ','
             || CAST(total AS VARCHAR) || ','
             || CAST(weighted AS VARCHAR) AS feature_csv
    FROM stats
    """,
    tags=("multimodal", "pandas-udf", "codec", "resize", "compressed"),
    doc="Real PNG resize through decode/re-encode; sampled-checksum oracle.",
)
def multimodal_png_resize(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_features,
        png_feature_decoder,
    )
    from fotmobdatapipeline_spark.multimodal.binary_ops import resize_media
    from fotmobdatapipeline_spark.multimodal.png import resize_png

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    png = encode_media_as_png(media, width=_PNG_W, height=_PNG_H)
    small = resize_media(png, width=_PNG_RW, height=_PNG_RH, resizer=resize_png)
    feats = extract_features(small, decoder=png_feature_decoder)
    return feats.select(
        "doc_id",
        "header_hex",
        F.array_join(
            F.transform("feature", lambda x: x.cast("long").cast("string")), ","
        ).alias("feature_csv"),
    )


# --------------------------------------------------------------------------
# Luma histogram over the REAL PNG decode: Rec.601 integer luma
# ((299R + 587G + 114B) // 1000), eight equal bins — the exposure /
# contrast screening pass of image curation, proven through the
# compressed container (the oracle recomputes the histogram from the
# pre-encode pixel material; a decoder that botched a filter would
# shift pixels between bins).
# --------------------------------------------------------------------------
@register(
    "multimodal_png_luma_hist",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(3 * p AS INT) AS r0, CAST(3 * p + 1 AS INT) AS g0,
             CAST(3 * p + 2 AS INT) AS b0
      FROM b, UNNEST(range(0, {_PNG_W * _PNG_H})) AS t(p)
    ),
    rgb AS (
      SELECT px.doc_id, px.p,
             (CASE WHEN px.r0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS r,
             (CASE WHEN px.g0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS g,
             (CASE WHEN px.b0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS bb
      FROM px JOIN b USING (doc_id)
    ),
    lum AS (
      SELECT doc_id,
             CAST(((299 * r + 587 * g + 114 * bb) // 1000) // 32 AS INT) AS bucket
      FROM rgb
    )
    SELECT doc_id, bucket, COUNT(*) AS n_pixels
    FROM lum GROUP BY doc_id, bucket
    """,
    tags=("multimodal", "pandas-udf", "codec", "image"),
    doc="Rec.601 luma histogram through the real PNG decode; integer-exact.",
)
def multimodal_png_luma_hist(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_features,
    )
    from fotmobdatapipeline_spark.multimodal.png import png_luma_histogram

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    png = encode_media_as_png(media, width=_PNG_W, height=_PNG_H)
    feats = extract_features(png, decoder=png_luma_histogram)
    exploded = feats.select(
        "doc_id", F.posexplode("feature").alias("bucket", "cnt")
    )
    return exploded.filter(F.col("cnt") > 0).select(
        "doc_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.col("cnt").cast("bigint").alias("n_pixels"),
    )


# --------------------------------------------------------------------------
# Image near-dup candidates by luma-histogram distance: block on the
# (dominant luma bucket, dominant count) pair (smallest index wins
# ties — deterministic), then
# exact integer L1 distance between 8-bin histograms within each block
# — the cheap image-level dedup screen that runs before expensive
# perceptual hashing.  Never all-pairs: the join key is the block, the
# same bounded-fan-out doctrine as the text LSH tiers — and the block
# size itself is CAPPED (r9 VERDICT #3 hygiene): a degenerate corpus of
# near-uniform images collapses into few (dominant-bucket, count)
# blocks, so blocks above _IMG_BLOCK_CAP docs are excluded from the
# pair join and REPORTED (the max_df precedent, operators/dedup.py —
# no silent caps).  The cap is mirrored in the oracle, so parity holds
# on any corpus.  All features come through the REAL PNG decode.
# --------------------------------------------------------------------------
_IMG_L1_MAX = 2
_IMG_BLOCK_CAP = 256  # max docs per block in the pair join (cap² pair bound)


def _image_neardup_parts(blocked, n_buckets: int = 8):
    """(pairs, dropped) for the capped histogram-block screen: pairs is
    the L1-filtered candidate list over blocks of <= _IMG_BLOCK_CAP
    docs; dropped is the (block, n_docs) report of every block the cap
    excluded — surfaced, never silent, so a pipeline can alert on
    degenerate corpora (all-identical thumbnails, solid-color screens)."""
    counts = blocked.groupBy("block").agg(F.count("*").alias("n_docs"))
    ok = counts.filter(F.col("n_docs") <= _IMG_BLOCK_CAP).select("block")
    dropped = counts.filter(F.col("n_docs") > _IMG_BLOCK_CAP)
    a = blocked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("block").alias("block"),
        *(F.col(f"h{i}").alias(f"a{i}") for i in range(n_buckets)),
    )
    b2 = blocked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("block").alias("block"),
        *(F.col(f"h{i}").alias(f"b{i}") for i in range(n_buckets)),
    )
    joined = (
        a.join(ok, "block").join(b2, "block").filter(F.col("doc_a") < F.col("doc_b"))
    )
    l1 = sum(
        (F.abs(F.col(f"a{i}") - F.col(f"b{i}")) for i in range(n_buckets)),
        F.lit(0),
    )
    pairs = joined.select("doc_a", "doc_b", l1.alias("l1_dist")).filter(
        F.col("l1_dist") <= _IMG_L1_MAX
    )
    return pairs, dropped


# Shared oracle CTE: PNG decode -> 8-bin luma histogram -> dominant-
# bucket block, used by both the pair screen and its dropped-block
# report twin (ADVICE r10: the cap report must be a queryable surface,
# not a discarded tuple element).
_IMG_BLOCKED_CTE = f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(3 * p AS INT) AS r0, CAST(3 * p + 1 AS INT) AS g0,
             CAST(3 * p + 2 AS INT) AS b0
      FROM b, UNNEST(range(0, {_PNG_W * _PNG_H})) AS t(p)
    ),
    rgb AS (
      SELECT px.doc_id,
             (CASE WHEN px.r0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS r,
             (CASE WHEN px.g0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS g,
             (CASE WHEN px.b0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS bb
      FROM px JOIN b USING (doc_id)
    ),
    lum AS (
      SELECT doc_id,
             CAST(((299 * r + 587 * g + 114 * bb) // 1000) // 32 AS INT) AS k
      FROM rgb
    ),
    hist AS MATERIALIZED (
      SELECT doc_id,
             {", ".join(f"CAST(SUM(CASE WHEN k = {i} THEN 1 ELSE 0 END) AS BIGINT) AS h{i}" for i in range(8))}
      FROM lum GROUP BY doc_id
    ),
    blocked AS MATERIALIZED (
      SELECT *,
             CASE {" ".join(f"WHEN h{i} = GREATEST(h0,h1,h2,h3,h4,h5,h6,h7) THEN {i}" for i in range(8))}
             END * 100
             + GREATEST(h0,h1,h2,h3,h4,h5,h6,h7) AS block
      FROM hist
    )"""


def _image_blocked(spark: SparkSession, sf_dir: str):
    """Spark twin of _IMG_BLOCKED_CTE: PNG decode -> 8-bin luma
    histogram -> (dominant bucket, dominant count) block key.  ONE
    definition shared by the pair screen and its dropped-block report,
    mirroring the SQL side's shared CTE — a block-formula change cannot
    desynchronize the two entries."""
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_features,
    )
    from fotmobdatapipeline_spark.multimodal.png import png_luma_histogram

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    png = encode_media_as_png(media, width=_PNG_W, height=_PNG_H)
    feats = extract_features(png, decoder=png_luma_histogram)
    h = [
        F.element_at("feature", i + 1).cast("bigint").alias(f"h{i}")
        for i in range(8)
    ]
    hist = feats.select("doc_id", *h)
    mx = F.greatest(*(F.col(f"h{i}") for i in range(8)))
    # Block on (dominant bucket, dominant count): finer than the bucket
    # alone, still deterministic (smallest index wins ties).
    block = (
        F.coalesce(*(F.when(F.col(f"h{i}") == mx, F.lit(i)) for i in range(8)))
        * 100
        + mx
    )
    return hist.select("*", block.alias("block"))


@register(
    "multimodal_image_neardup",
    oracle=f"""{_IMG_BLOCKED_CTE},
    ok AS MATERIALIZED (
      SELECT block FROM blocked GROUP BY block
      HAVING COUNT(*) <= {_IMG_BLOCK_CAP}
    )
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           {" + ".join(f"ABS(a.h{i} - b2.h{i})" for i in range(8))} AS l1_dist
    FROM blocked a JOIN ok USING (block) JOIN blocked b2
      ON a.block = b2.block AND a.doc_id < b2.doc_id
    WHERE {" + ".join(f"ABS(a.h{i} - b2.h{i})" for i in range(8))} <= {_IMG_L1_MAX}
    """,
    tags=("multimodal", "codec", "image", "dedup"),
    doc="Image near-dup screen: luma-histogram L1 within dominant-bucket blocks.",
)
def multimodal_image_neardup(spark: SparkSession, sf_dir: str):
    blocked = share(_image_blocked(spark, sf_dir))
    pairs, _dropped = _image_neardup_parts(blocked)
    return pairs


@register(
    "multimodal_image_neardup_dropped",
    oracle=f"""{_IMG_BLOCKED_CTE}
    SELECT block, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM blocked GROUP BY block HAVING COUNT(*) > {_IMG_BLOCK_CAP}
    """,
    tags=("multimodal", "codec", "image", "dedup", "dq"),
    doc="Companion report to multimodal_image_neardup: every histogram "
    "block the _IMG_BLOCK_CAP excluded from the pair join, with its doc "
    "count — the cap is surfaced as a queryable entry (ADVICE r10; the "
    "max_df report precedent), so degenerate corpora (all-identical "
    "thumbnails) alert instead of silently losing pairs.  Empty on the "
    "test corpus by construction; the degenerate-corpus unit test "
    "exercises the non-empty path.",
)
def multimodal_image_neardup_dropped(spark: SparkSession, sf_dir: str):
    _pairs, dropped = _image_neardup_parts(_image_blocked(spark, sf_dir))
    return dropped.select("block", F.col("n_docs").cast("bigint").alias("n_docs"))


# --------------------------------------------------------------------------
# Collocation mining: top bigrams by PMI-style LIFT over the corpus —
# lift(x,y) = P(xy) / (P(x)P(y)) with bigram/unigram probabilities from
# exact integer counts.  Lift, not log-PMI: ln is not bit-portable
# across engines (text_diversity_simpson doctrine) and the RANKING is
# identical, so the exact-value readout stays log-free — three IEEE
# divisions in one fixed tree per surviving bigram.  Scale shape: the
# tokenized corpus is checkpointed and scanned once for both bigram and
# unigram counts (map-side-combinable hash aggregates); the unigram
# joins shuffle vocab-cardinality rows, never the corpus; top-k via
# distributed TakeOrderedAndProject.  min-count >= 5 is the standard
# collocation support floor (kills one-off pairs before the join).
# --------------------------------------------------------------------------
_LIFT_MIN_COUNT = 5
_LIFT_TOPK = 50


@register(
    "text_bigram_lift",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM w, UNNEST(range(1, len(ws))) AS t(i)
    ),
    cb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= {_LIFT_MIN_COUNT}
    ),
    cu AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT UNNEST(ws) AS tok FROM w) GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cu),
    btot AS (
      SELECT CAST(SUM(n_pair) AS BIGINT) AS b FROM (
        SELECT COUNT(*) AS n_pair FROM bg GROUP BY w1, w2
      )
    )
    SELECT cb.w1, cb.w2, cb.n_pair,
           (CAST(cb.n_pair AS DOUBLE) / CAST(btot.b AS DOUBLE))
             / ((CAST(c1.c AS DOUBLE) / CAST(tot.t AS DOUBLE))
                * (CAST(c2.c AS DOUBLE) / CAST(tot.t AS DOUBLE))) AS lift
    FROM cb JOIN cu c1 ON cb.w1 = c1.tok JOIN cu c2 ON cb.w2 = c2.tok
    CROSS JOIN tot CROSS JOIN btot
    ORDER BY lift DESC, cb.w1 ASC, cb.w2 ASC
    LIMIT {_LIFT_TOPK}
    """,
    tags=("text", "collocation", "topk"),
    doc="Top bigrams by exact-count lift (log-free PMI ranking).",
)
def text_bigram_lift(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    w = share(docs.select(F.split("text", " ").alias("ws")))
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    bg = w.select(
        F.explode(
            F.zip_with(
                F.slice("ws", 1, n1),
                F.slice(F.col("ws"), 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bg = share(bg)  # two consumers: counts + total
    cb = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _LIFT_MIN_COUNT)
    )
    cu = w.select(F.explode("ws").alias("tok")).groupBy("tok").agg(
        F.count("*").alias("c")
    )
    tot = cu.agg(F.sum("c").cast("bigint").alias("t"))
    btot = bg.groupBy("w1", "w2").count().agg(
        F.sum("count").cast("bigint").alias("b")
    )
    j = (
        cb.join(cu.withColumnRenamed("tok", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(cu.withColumnRenamed("tok", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(tot))  # 1-row scalars by construction
        .crossJoin(F.broadcast(btot))
    )
    lift = (F.col("n_pair").cast("double") / F.col("b").cast("double")) / (
        (F.col("c1").cast("double") / F.col("t").cast("double"))
        * (F.col("c2").cast("double") / F.col("t").cast("double"))
    )
    return (
        j.select("w1", "w2", "n_pair", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(_LIFT_TOPK)
    )


# --------------------------------------------------------------------------
# Benford first-digit screen (dq family): the observed first-digit
# distribution of lineitem extended prices vs Benford's law — the
# classic fabricated-data / unit-mixup tripwire.  The digit comes from
# the STRING rendering of floor(price) (both engines render int64
# identically; double->int casts differ in rounding mode between
# engines, floor does not); expected shares are precomputed log10
# literals, so every float is one fixed IEEE tree over exact integer
# counts — no transcendental evaluated at query time.  Max |dev| over
# digits replaces chi-square: MAX is order-insensitive where the
# chi-square SUM over per-digit doubles is not.  Shape: one
# map-side-combinable digit count + a 1-row total, broadcast back.
# --------------------------------------------------------------------------
_BENFORD = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}


@register(
    "dq_benford_digits",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM lineitem WHERE l_extendedprice >= 1
    ),
    c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c),
    b(digit, benford_share) AS (
      VALUES {", ".join(f"({d}, CAST({_BENFORD[d]!r} AS DOUBLE))" for d in range(1, 10))}
    )
    SELECT b.digit, COALESCE(c.n_obs, 0) AS n_obs,
           CAST(COALESCE(c.n_obs, 0) AS DOUBLE) / CAST(t.n AS DOUBLE) AS obs_share,
           b.benford_share,
           ABS(CAST(COALESCE(c.n_obs, 0) AS DOUBLE) / CAST(t.n AS DOUBLE)
               - b.benford_share) AS abs_dev
    FROM b LEFT JOIN c ON b.digit = c.digit CROSS JOIN t
    """,
    tags=("dq", "distribution"),
    doc="Benford first-digit deviation report over prices; bit-exact.",
)
def dq_benford_digits(spark: SparkSession, sf_dir: str):
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") >= 1)
    digit = F.substring(
        F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n_obs")
    )
    t = c.agg(F.sum("n_obs").cast("bigint").alias("n"))
    # No broadcast hint on b: Spark cannot build-side-broadcast the
    # PRESERVED (left) side of a LEFT OUTER join, so a hint there is
    # silently ignored (ADVICE r10).  Both sides are ≤9 rows (digits
    # 1–9) — the aggregate c is what gets broadcast-built, correctly.
    b = li.sparkSession.createDataFrame(
        [(d, _BENFORD[d]) for d in range(1, 10)],
        "digit int, benford_share double",
    )
    j = b.join(F.broadcast(c), "digit", "left").crossJoin(F.broadcast(t))
    obs_share = F.coalesce(F.col("n_obs"), F.lit(0)).cast("double") / F.col("n").cast(
        "double"
    )
    return j.select(
        "digit",
        F.coalesce(F.col("n_obs"), F.lit(0).cast("bigint")).alias("n_obs"),
        obs_share.alias("obs_share"),
        "benford_share",
        F.abs(obs_share - F.col("benford_share")).alias("abs_dev"),
    )


# --------------------------------------------------------------------------
# Perceptual image fingerprint clusters: 64-bit dHash (difference hash)
# over the REAL PNG decode — floor-sample to a 9x8 luma grid, one
# gradient bit per horizontally adjacent pair — then the top hash
# clusters by member count, the image-dedup step that catches
# re-encoded/resized copies exact byte-hashing misses.  All-integer
# arithmetic end to end (Rec.601 luma, floor sampling, bit packing as
# two 32-bit halves), so the oracle replays it exactly from the
# pre-encode pixel material; decode(encode(x)) == x is what the match
# proves.  Scale shape: map-only Arrow stage (doc_id, payload) ->
# 2 longs per image, one map-side-combinable groupBy, distributed
# top-k.  Hamming-tolerant matching composes downstream as a banded
# equi-join on hash quarters (the simhash pattern).
# --------------------------------------------------------------------------
def _dhash_halves_sql() -> tuple[str, str]:
    def idx(x: int, y: int) -> int:  # 1-based list index of grid point
        return (y * _PNG_H // 8) * _PNG_W + (x * _PNG_W // 9) + 1

    lo, hi = [], []
    for y in range(8):
        for x in range(8):
            term = (
                f"(CASE WHEN ls[{idx(x + 1, y)}] > ls[{idx(x, y)}] "
                f"THEN CAST({1 << ((y % 4) * 8 + x)} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
            (lo if y < 4 else hi).append(term)
    return " + ".join(hi), " + ".join(lo)


_DHASH_HI_SQL, _DHASH_LO_SQL = _dhash_halves_sql()


@register(
    "multimodal_image_dhash",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(3 * p AS INT) AS r0, CAST(3 * p + 1 AS INT) AS g0,
             CAST(3 * p + 2 AS INT) AS b0
      FROM b, UNNEST(range(0, {_PNG_W * _PNG_H})) AS t(p)
    ),
    rgb AS (
      SELECT px.doc_id, px.p,
             (CASE WHEN px.r0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS r,
             (CASE WHEN px.g0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS g,
             (CASE WHEN px.b0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS bb
      FROM px JOIN b USING (doc_id)
    ),
    lum AS (
      SELECT doc_id, p, (299 * r + 587 * g + 114 * bb) // 1000 AS luma FROM rgb
    ),
    l AS (
      SELECT doc_id, list(luma ORDER BY p) AS ls FROM lum GROUP BY doc_id
    ),
    h AS (
      SELECT doc_id, {_DHASH_HI_SQL} AS dhash_hi, {_DHASH_LO_SQL} AS dhash_lo
      FROM l
    )
    SELECT dhash_hi, dhash_lo, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM h GROUP BY dhash_hi, dhash_lo
    ORDER BY n_docs DESC, dhash_hi ASC, dhash_lo ASC
    LIMIT 50
    """,
    tags=("multimodal", "codec", "image", "dedup"),
    doc="Top perceptual dHash clusters via the real PNG decode.",
)
def multimodal_image_dhash(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_png_dhash,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    png = encode_media_as_png(media, width=_PNG_W, height=_PNG_H)
    h = extract_png_dhash(png)
    return (
        h.groupBy("dhash_hi", "dhash_lo")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("dhash_hi"), F.asc("dhash_lo"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# Hamming-tolerant perceptual near-dup pairs over the dHash tier: the
# 64-bit fingerprint split into four 16-bit bands; by pigeonhole any
# pair within Hamming distance <= 3 shares at least one exact band, so
# candidates meet ONLY through banded equi-joins (the simhash doctrine
# — never all-pairs), are de-duplicated across bands with one distinct
# on the id pair, and verified with bit_count(xor()) — integer-exact in
# both engines.  Hot bands (e.g. flat images hashing to all-zero
# quarters) are CAPPED at _DHASH_BAND_CAP members and excluded, the
# image_neardup/max_df precedent — mirrored in the oracle so parity
# holds on any corpus.
# --------------------------------------------------------------------------
_DHASH_HAMMING_MAX = 3
_DHASH_BAND_CAP = 256


def _dhash_frame(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_png_dhash,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    png = encode_media_as_png(media, width=_PNG_W, height=_PNG_H)
    return extract_png_dhash(png)


def _dhash_bands(spark: SparkSession, sf_dir: str):
    """Per-doc dHash exploded into 4 16-bit LSH bands (the Spark twin of
    ``_DHASH_BANDS_CTE``); shared by the pair join and its cap report."""
    h = share(_dhash_frame(spark, sf_dir))
    band_key = (
        F.when(F.col("band_id") == 0, F.col("dhash_lo").bitwiseAND(65535))
        .when(F.col("band_id") == 1, F.shiftright("dhash_lo", 16).bitwiseAND(65535))
        .when(F.col("band_id") == 2, F.col("dhash_hi").bitwiseAND(65535))
        .otherwise(F.shiftright("dhash_hi", 16).bitwiseAND(65535))
    )
    return h.select(
        "doc_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band_id"),
    ).withColumn("band_key", band_key)


# Shared oracle prefix: documents -> per-doc dHash -> 4x16-bit bands.
# Used by BOTH multimodal_image_dhash_pairs (pair join over uncapped
# bands) and multimodal_dhash_bands_dropped (the cap's audit report),
# so the two entries can never disagree about what a "band" is.
_DHASH_BANDS_CTE = f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(3 * p AS INT) AS r0, CAST(3 * p + 1 AS INT) AS g0,
             CAST(3 * p + 2 AS INT) AS b0
      FROM b, UNNEST(range(0, {_PNG_W * _PNG_H})) AS t(p)
    ),
    rgb AS (
      SELECT px.doc_id, px.p,
             (CASE WHEN px.r0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS r,
             (CASE WHEN px.g0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS g,
             (CASE WHEN px.b0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS bb
      FROM px JOIN b USING (doc_id)
    ),
    lum AS (
      SELECT doc_id, p, (299 * r + 587 * g + 114 * bb) // 1000 AS luma FROM rgb
    ),
    l AS (
      SELECT doc_id, list(luma ORDER BY p) AS ls FROM lum GROUP BY doc_id
    ),
    h AS MATERIALIZED (
      SELECT doc_id, {_DHASH_HI_SQL} AS dhash_hi, {_DHASH_LO_SQL} AS dhash_lo
      FROM l
    ),
    bands AS MATERIALIZED (
      SELECT doc_id, dhash_hi, dhash_lo, band_id,
             CASE band_id
               WHEN 0 THEN dhash_lo & 65535
               WHEN 1 THEN (dhash_lo >> 16) & 65535
               WHEN 2 THEN dhash_hi & 65535
               ELSE (dhash_hi >> 16) & 65535
             END AS band_key
      FROM h, UNNEST(range(0, 4)) AS t(band_id)
    )"""


@register(
    "multimodal_image_dhash_pairs",
    oracle=f"""{_DHASH_BANDS_CTE},
    ok AS MATERIALIZED (
      SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
      HAVING COUNT(*) <= {_DHASH_BAND_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
             a.dhash_hi AS ha, a.dhash_lo AS la,
             c.dhash_hi AS hb, c.dhash_lo AS lb
      FROM bands a JOIN ok USING (band_id, band_key)
      JOIN bands c ON a.band_id = c.band_id AND a.band_key = c.band_key
                   AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
            <= {_DHASH_HAMMING_MAX}
    """,
    tags=("multimodal", "codec", "image", "dedup", "lsh"),
    doc="Perceptual near-dup pairs: banded dHash join, Hamming <= 3, capped bands.",
)
def multimodal_image_dhash_pairs(spark: SparkSession, sf_dir: str):
    bands = _dhash_bands(spark, sf_dir)
    bands = share(bands)  # two consumers: cap + join
    ok = (
        bands.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= _DHASH_BAND_CAP)
        .select("band_id", "band_key")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dhash_hi").alias("ha"),
        F.col("dhash_lo").alias("la"),
        "band_id",
        "band_key",
    )
    c = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dhash_hi").alias("hb"),
        F.col("dhash_lo").alias("lb"),
        "band_id",
        "band_key",
    )
    cand = (
        a.join(ok, ["band_id", "band_key"])
        .join(c, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "la", "hb", "lb")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("ha").bitwiseXOR(F.col("hb"))
    ) + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= _DHASH_HAMMING_MAX)


@register(
    "multimodal_dhash_bands_dropped",
    oracle=f"""{_DHASH_BANDS_CTE}
    SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM bands GROUP BY band_id, band_key
    HAVING COUNT(*) > {_DHASH_BAND_CAP}
    """,
    tags=("multimodal", "codec", "image", "dedup", "dq"),
    doc="Companion report to multimodal_image_dhash_pairs: every (band, "
    "key) bucket the _DHASH_BAND_CAP excluded from the Hamming pair "
    "join, with its member count — the perceptual tier's cap-drop "
    "accounting surfaced as a queryable entry (VERDICT r11 #7; the "
    "image_neardup_dropped / max_df report precedent), so adversarially "
    "skewed corpora (flat thumbnails hashing to all-zero quarters) "
    "alert instead of silently losing pairs.  Empty on this corpus by "
    "construction; the degenerate-corpus test in test_multimodal "
    "exercises the non-empty path end-to-end.",
)
def multimodal_dhash_bands_dropped(spark: SparkSession, sf_dir: str):
    return (
        _dhash_bands(spark, sf_dir)
        .groupBy("band_id", "band_key")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") > _DHASH_BAND_CAP)
    )


# --------------------------------------------------------------------------
# Length-bucketed batching report: documents assigned to power-of-two
# token-length buckets (the padding-efficient batching layout next to
# the concat-and-chunk / never-split packers), with each bucket's
# padding waste 1 - tokens/capacity — the number a training pipeline
# reads to choose between bucketing and packing.  Bucket = next power
# of two >= n_tokens via exact integer doubling (no log2 — floats never
# touch the bucketing); one map + one combinable aggregate, one IEEE
# division per bucket row.  Whitespace token count matches the
# text_token_stats definition.
# --------------------------------------------------------------------------
@register(
    "pack_length_buckets",
    oracle="""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT n_tokens,
             CASE WHEN n_tokens <= 1 THEN 1
                  WHEN n_tokens <= 2 THEN 2
                  WHEN n_tokens <= 4 THEN 4
                  WHEN n_tokens <= 8 THEN 8
                  WHEN n_tokens <= 16 THEN 16
                  WHEN n_tokens <= 32 THEN 32
                  WHEN n_tokens <= 64 THEN 64
                  WHEN n_tokens <= 128 THEN 128
                  WHEN n_tokens <= 256 THEN 256
                  WHEN n_tokens <= 512 THEN 512
                  WHEN n_tokens <= 1024 THEN 1024
                  WHEN n_tokens <= 2048 THEN 2048
                  WHEN n_tokens <= 4096 THEN 4096
                  ELSE 8192 END AS bucket
      FROM d
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS capacity,
           CAST(1 AS DOUBLE)
             - CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) * bucket AS DOUBLE)
             AS padding_waste
    FROM b GROUP BY bucket
    """,
    tags=("llm", "packing", "batching"),
    doc="Power-of-two length buckets with per-bucket padding waste; bit-exact.",
)
def pack_length_buckets(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    bucket = F.lit(8192)
    for size in (4096, 2048, 1024, 512, 256, 128, 64, 32, 16, 8, 4, 2, 1):
        bucket = F.when(n_tokens <= size, F.lit(size)).otherwise(bucket)
    g = docs.select(n_tokens.alias("n_tokens"), bucket.alias("bucket")).groupBy(
        "bucket"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    capacity = (F.col("n_docs") * F.col("bucket")).cast("bigint")
    return g.select(
        "bucket",
        "n_docs",
        "total_tokens",
        capacity.alias("capacity"),
        (
            F.lit(1.0)
            - F.col("total_tokens").cast("double") / capacity.cast("double")
        ).alias("padding_waste"),
    )


# --------------------------------------------------------------------------
# Ranked-retrieval quality: nDCG@10 of the BM25 ranking against a
# binary relevance label (doc contains ALL query terms) — the ranking
# eval next to sim_ivf_recall_curve's ANN recall (quality as data).
# No log at query time: the 1/log2(r+1) discounts for ranks 1..10 and
# their prefix sums (the ideal DCG table) are PYTHON-precomputed
# literals, identical doubles in both engines; DCG is an EXPLICIT
# fixed-order 10-term expression over the rank-sorted top-10 array —
# no float aggregate whose order the shuffle picks.  Relevance counts
# are exact integers; one corpus scan for labels, the BM25 tier's own
# scan for the ranking.
# --------------------------------------------------------------------------
_NDCG_W = {r: 1.0 / __import__("math").log2(r + 1) for r in range(1, 11)}
_NDCG_P = {k: sum(_NDCG_W[r] for r in range(1, k + 1)) for k in range(1, 11)}


def _ndcg_dcg_sql() -> str:
    expr = "CAST(0 AS DOUBLE)"
    for r in range(1, 11):
        expr = (
            f"({expr} + CAST(COALESCE(arr[{r}].rel, 0) AS DOUBLE)"
            f" * CAST({_NDCG_W[r]!r} AS DOUBLE))"
        )
    return expr


@register(
    "text_bm25_ndcg",
    oracle=lambda: f"""
    WITH top AS ({_bm25_oracle()}),
    rel AS (
      SELECT doc_id,
             CASE WHEN {" AND ".join(
                 f"list_contains(string_split(text, ' '), '{t}')"
                 for t in _BM25_TERMS)}
             THEN 1 ELSE 0 END AS rel
      FROM documents
    ),
    j AS (
      SELECT t.doc_id, t.score, r.rel FROM top t JOIN rel r USING (doc_id)
    ),
    one AS (
      SELECT list({{'ns': -score, 'd': doc_id, 'rel': rel}}
                  ORDER BY -score, doc_id) AS arr
      FROM j
    ),
    nr AS (SELECT CAST(SUM(rel) AS BIGINT) AS n_rel FROM rel),
    m AS (
      SELECT nr.n_rel,
             {_ndcg_dcg_sql()} AS dcg,
             CASE WHEN nr.n_rel <= 0 THEN NULL
                  {" ".join(
                      f"WHEN nr.n_rel = {k} THEN CAST({_NDCG_P[k]!r} AS DOUBLE)"
                      for k in range(1, 10))}
                  ELSE CAST({_NDCG_P[10]!r} AS DOUBLE) END AS idcg
      FROM one CROSS JOIN nr
    )
    SELECT n_rel, dcg, idcg, dcg / idcg AS ndcg FROM m
    """,
    tags=("text", "retrieval", "eval"),
    doc="nDCG@10 of BM25 vs all-terms relevance; literal discounts, bit-exact.",
)
def text_bm25_ndcg(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    top = bm25_topk(docs, list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B)
    ws = F.split("text", " ")
    rel_flag = F.lit(True)
    for t in _BM25_TERMS:
        rel_flag = rel_flag & F.array_contains(ws, t)
    rel = docs.select("doc_id", rel_flag.cast("int").alias("rel"))
    rel = share(rel)  # two consumers: join + n_rel
    j = top.join(rel, "doc_id")
    one = j.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("score")).alias("ns"),
                    F.col("doc_id").alias("d"),
                    F.col("rel").alias("rel"),
                )
            )
        ).alias("arr")
    )
    nr = rel.agg(F.sum("rel").cast("bigint").alias("n_rel"))
    dcg = F.lit(0.0)
    for r in range(1, 11):
        dcg = dcg + F.coalesce(
            F.element_at("arr", r)["rel"], F.lit(0)
        ).cast("double") * F.lit(_NDCG_W[r])
    idcg = F.when(F.col("n_rel") <= 0, F.lit(None).cast("double"))
    for k in range(1, 10):
        idcg = idcg.when(F.col("n_rel") == k, F.lit(_NDCG_P[k]))
    idcg = idcg.otherwise(F.lit(_NDCG_P[10]))
    m = one.crossJoin(F.broadcast(nr)).select(
        "n_rel", dcg.alias("dcg"), idcg.alias("idcg")
    )
    return m.select(
        "n_rel", "dcg", "idcg", (F.col("dcg") / F.col("idcg")).alias("ndcg")
    )


# --------------------------------------------------------------------------
# Perceptual image dedup (keep-one-per-cluster): every document's image
# payload is fingerprinted with the real-decode dHash and only the
# minimum doc_id per fingerprint survives — the multimodal twin of
# exact text dedup (dedup_exact's keep-min rule), and the recipe step a
# mixed-modality prep pipeline runs between byte-hash dedup and
# expensive embedding screens.  Map-only Arrow hashing, one combinable
# min/count aggregate per fingerprint, survivors by broadcast-eligible
# hash-keyed join.  Survivor rows carry the cluster size so downstream
# mixture weighting can reweight collapsed duplicates.
# --------------------------------------------------------------------------
@register(
    "multimodal_dedup_perceptual",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             CAST(octet_length(encode(text)) AS INT) AS n
      FROM documents
    ),
    px AS (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(3 * p AS INT) AS r0, CAST(3 * p + 1 AS INT) AS g0,
             CAST(3 * p + 2 AS INT) AS b0
      FROM b, UNNEST(range(0, {_PNG_W * _PNG_H})) AS t(p)
    ),
    rgb AS (
      SELECT px.doc_id, px.p,
             (CASE WHEN px.r0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.r0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS r,
             (CASE WHEN px.g0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.g0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS g,
             (CASE WHEN px.b0 < b.n THEN
                (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 1 AS INT), 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(b.hx, CAST(2 * px.b0 + 2 AS INT), 1)) - 1)
              ELSE 0 END) AS bb
      FROM px JOIN b USING (doc_id)
    ),
    lum AS (
      SELECT doc_id, p, (299 * r + 587 * g + 114 * bb) // 1000 AS luma FROM rgb
    ),
    l AS (
      SELECT doc_id, list(luma ORDER BY p) AS ls FROM lum GROUP BY doc_id
    ),
    h AS (
      SELECT doc_id, {_DHASH_HI_SQL} AS dhash_hi, {_DHASH_LO_SQL} AS dhash_lo
      FROM l
    ),
    cl AS (
      SELECT dhash_hi, dhash_lo,
             MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM h GROUP BY dhash_hi, dhash_lo
    )
    SELECT keeper AS doc_id, dhash_hi, dhash_lo, cluster_size FROM cl
    """,
    tags=("multimodal", "codec", "image", "dedup"),
    doc="Keep-one-per-perceptual-cluster image dedup via real-decode dHash.",
)
def multimodal_dedup_perceptual(spark: SparkSession, sf_dir: str):
    h = _dhash_frame(spark, sf_dir)
    return (
        h.groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("bigint").alias("cluster_size"),
        )
        .select("doc_id", "dhash_hi", "dhash_lo", "cluster_size")
    )


# --------------------------------------------------------------------------
# LIX readability per document: words/sentence + 100 * long-word share
# (Björnsson's läsbarhetsindex — the length-structural readability
# score that needs no syllable model, so it stays exact on any corpus).
# "Sentence" is the corpus's fixed 8-word segment convention
# (_SENT_W, shared with sentence dedup); long = >6 characters.  All
# counts exact integers, two IEEE divisions per row — bit-exact, pure
# map stage (no shuffle at all).
# --------------------------------------------------------------------------
@register(
    "text_lix_readability",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(ceil(len(string_split(text, ' ')) / {_SENT_W}.0) AS BIGINT)
               AS n_sentences,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> length(w) > 6)) AS BIGINT) AS n_long
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_long,
           CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
             + CAST(100 AS DOUBLE)
               * (CAST(n_long AS DOUBLE) / CAST(n_words AS DOUBLE)) AS lix
    FROM t
    """,
    tags=("text", "quality"),
    doc="LIX readability per doc: structural, syllable-free, bit-exact.",
)
def text_lix_readability(spark: SparkSession, sf_dir: str):
    docs = read_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    n_words = F.size(ws).cast("bigint")
    n_sent = F.ceil(F.size(ws) / F.lit(float(_SENT_W))).cast("bigint")
    n_long = F.size(F.filter(ws, lambda w: F.length(w) > 6)).cast("bigint")
    t = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_long.alias("n_long"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_long",
        (
            F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
            + F.lit(100.0)
            * (F.col("n_long").cast("double") / F.col("n_words").cast("double"))
        ).alias("lix"),
    )


# --------------------------------------------------------------------------
# Connected components over the LSH candidate graph by fixed-round
# min-label propagation — the cluster-id assignment step that turns
# near-dup PAIRS into dedup GROUPS (keep-one-per-component is then a
# single groupBy(component).min(doc_id) semi-join).  Fourth member of
# the graph-audit family after PageRank / k-core / triangles, same
# fixed-round exact-replay doctrine: 6 rounds bounds component
# diameter 6, ample for dense dedup clusters; the oracle unrolls the
# identical rounds as materialized CTEs.
# --------------------------------------------------------------------------
_LP_ROUNDS = 6


def _label_prop_oracle(rounds: int = _LP_ROUNDS) -> str:
    steps = []
    for r in range(rounds):
        steps.append(
            f"""n{r + 1} AS MATERIALIZED (
      SELECT e.dst AS node, MIN(l.label) AS nl
      FROM e0 e JOIN l{r} l ON e.src = l.node GROUP BY e.dst
    ),
    m{r + 1} AS MATERIALIZED (
      SELECT l.node, LEAST(l.label, COALESCE(n.nl, l.label)) AS label
      FROM l{r} l LEFT JOIN n{r + 1} n ON l.node = n.node
    ),
    l{r + 1} AS MATERIALIZED (
      SELECT a.node, LEAST(a.label, b.label) AS label
      FROM m{r + 1} a JOIN m{r + 1} b ON a.label = b.node
    )"""
        )
    return f"""
    WITH tok AS ({_SQL_TOK}),
    sig AS (SELECT doc_id, {_lsh_sigs} FROM tok),
    bands AS ({_lsh_bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_id = b.band_id
                  AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
      )
    ),
    l0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, src AS label FROM e0
    ),
    {",".join(steps)}
    SELECT node AS doc_id, label AS component FROM l{rounds}
    """


@register(
    "graph_label_propagation",
    oracle=_label_prop_oracle(),
    tags=("graph", "iterative", "dedup"),
    doc="Connected components of the LSH candidate graph via fixed-round "
    "min-label propagation with pointer jumping (6 rounds converge "
    "diameter <= ~2**6); per-round hash joins + min aggregate, no "
    "window, no collect — cluster ids for keep-one-per-group dedup.  "
    "The converged, loop-terminated twin is "
    "operators/dedup.connected_dup_clusters (rows-only checkable).",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import min_label_propagation

    pairs = _lsh_pairs_shared(spark, sf_dir)
    return min_label_propagation(pairs, rounds=_LP_ROUNDS)


# --------------------------------------------------------------------------
# Zipf-slope corpus health check: OLS fit of ln(freq) on ln(rank) over
# the top-50 terms — natural corpora sit near slope -1; template farms
# and synthetic spam flatten or steepen the curve, making this a cheap
# DQ monitor next to text_diversity_simpson.  ln IS required here, so
# the ln-bearing doctrine applies (the DSIR precedent): both engines
# fold the 50 (ln rank, ln freq) pairs in the SAME rank order via an
# ordered reduce, and the two regression outputs are ROUNDed to 6
# decimals — ulp-level libm differences are ~1e-15 relative, absorbed
# entirely.  Scale shape: the only corpus-scale work is the term-count
# aggregate; top-50 is a distributed TakeOrdered; the fold runs over a
# 50-element array (model-sized by construction).
# --------------------------------------------------------------------------
_ZIPF_TOP = 50


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH occ AS (
      SELECT UNNEST(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM occ GROUP BY term),
    top AS (
      SELECT term, freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS BIGINT)
               AS rk
      FROM tf ORDER BY freq DESC, term ASC LIMIT {_ZIPF_TOP}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             list_reduce(
               list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
                 list([ln(CAST(rk AS DOUBLE)), ln(CAST(freq AS DOUBLE)),
                       CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)] ORDER BY rk)),
               (a, e) -> [a[1] + e[1], a[2] + e[2],
                          a[3] + e[1] * e[1], a[4] + e[1] * e[2]]) AS acc
      FROM top
    ),
    fit AS (
      SELECT n,
             (CAST(n AS DOUBLE) * acc[4] - acc[1] * acc[2])
               / (CAST(n AS DOUBLE) * acc[3] - acc[1] * acc[1]) AS slope,
             acc[1] AS sx, acc[2] AS sy
      FROM s
    )
    SELECT n AS n_terms, ROUND(slope, 6) AS zipf_slope,
           ROUND((sy - slope * sx) / CAST(n AS DOUBLE), 6) AS intercept
    FROM fit
    """,
    tags=("text", "dq", "distribution"),
    doc="Zipf-law slope of the top-50 term frequencies (OLS on log-log); "
    "ordered 50-element fold + ROUND(6) absorbs libm ln ulp variance.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import term_frequencies

    tf = (
        term_frequencies(read_table(spark, sf_dir, "documents"))
        .groupBy("term")
        .agg(F.sum("tf").cast("bigint").alias("freq"))
    )
    top = tf.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(_ZIPF_TOP)
    # 50-row frame: the partition-less window is bounded by construction.
    from pyspark.sql import Window

    rk_w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    ranked = top.withColumn("rk", F.row_number().over(rk_w).cast("bigint"))
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rk"), F.col("freq")))
                ),
                lambda e: F.array(
                    F.log(e["rk"].cast("double")), F.log(e["freq"].cast("double"))
                ),
            ),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0)),
            lambda a, e: F.array(
                a[0] + e[0], a[1] + e[1], a[2] + e[0] * e[0], a[3] + e[0] * e[1]
            ),
        ).alias("acc"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("acc")[3] - F.col("acc")[0] * F.col("acc")[1]) / (
        nd * F.col("acc")[2] - F.col("acc")[0] * F.col("acc")[0]
    )
    fit = s.select(
        "n", slope.alias("slope"), F.col("acc")[0].alias("sx"), F.col("acc")[1].alias("sy")
    )
    return fit.select(
        F.col("n").alias("n_terms"),
        F.round(F.col("slope"), 6).alias("zipf_slope"),
        F.round((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n").cast("double"), 6).alias(
            "intercept"
        ),
    )


@register(
    "dedup_component_survivors",
    oracle=_label_prop_oracle().replace(
        f"SELECT node AS doc_id, label AS component FROM l{_LP_ROUNDS}",
        f"""SELECT label AS component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS survivor_doc_id
    FROM l{_LP_ROUNDS} GROUP BY label HAVING COUNT(*) >= 2""",
    ),
    tags=("dedup", "graph", "llmdata"),
    doc="Keep-one-per-cluster over the LSH candidate graph: connected "
    "components via the shared min-label operator, min-doc_id survivor "
    "and member count per >= 2-member component — the pair->group->"
    "survivor step that turns candidate pairs into an actionable dedup "
    "decision (the perceptual-image keep-one precedent, text tier).",
)
def dedup_component_survivors(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import min_label_propagation

    labels = min_label_propagation(
        _lsh_pairs_shared(spark, sf_dir), rounds=_LP_ROUNDS
    )
    return (
        labels.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("doc_id").alias("survivor_doc_id"),
        )
        .filter(F.col("n_members") >= 2)
    )


# --------------------------------------------------------------------------
# Ranked-retrieval eval, part 2: MRR and AP@10 of the BM25 top-10
# against the same all-terms binary relevance text_bm25_ndcg uses —
# together the three standard ranking metrics (reciprocal rank, average
# precision, nDCG) share one ranking and one label scan.  Determinism:
# the top-10 lands in a SORTED 10-struct array, and both MRR and AP are
# EXPLICIT fixed-order 10-term expressions with literal 1/r doubles —
# integer rel/cum counts, no float aggregate whose order the shuffle
# picks, no log/exp.  AP@10 = sum_r rel_r * (cum_r / r) / min(n_rel,
# 10); MRR = 1/first-relevant-rank (0 when nothing relevant ranks).
# --------------------------------------------------------------------------
def _ap10_sql() -> str:
    cum = " + ".join(f"COALESCE(arr[{i}].rel, 0)" for i in range(1, 11))
    expr = "CAST(0 AS DOUBLE)"
    for r in range(1, 11):
        cum_r = " + ".join(f"COALESCE(arr[{i}].rel, 0)" for i in range(1, r + 1))
        expr = (
            f"({expr} + CAST(COALESCE(arr[{r}].rel, 0) * ({cum_r}) AS DOUBLE)"
            f" * CAST({1.0 / r!r} AS DOUBLE))"
        )
    return expr


def _mrr_sql() -> str:
    expr = "CAST(0 AS DOUBLE)"
    for r in range(10, 0, -1):
        expr = (
            f"CASE WHEN COALESCE(arr[{r}].rel, 0) = 1 "
            f"THEN CAST({1.0 / r!r} AS DOUBLE) ELSE {expr} END"
        )
    return expr


@register(
    "text_retrieval_mrr_map",
    oracle=lambda: f"""
    WITH top AS ({_bm25_oracle()}),
    rel AS (
      SELECT doc_id,
             CASE WHEN {" AND ".join(
                 f"list_contains(string_split(text, ' '), '{t}')"
                 for t in _BM25_TERMS)}
             THEN 1 ELSE 0 END AS rel
      FROM documents
    ),
    j AS (
      SELECT t.doc_id, t.score, r.rel FROM top t JOIN rel r USING (doc_id)
    ),
    one AS (
      SELECT list({{'ns': -score, 'd': doc_id, 'rel': rel}}
                  ORDER BY -score, doc_id) AS arr
      FROM j
    ),
    nr AS (SELECT CAST(SUM(rel) AS BIGINT) AS n_rel FROM rel)
    SELECT nr.n_rel,
           CAST(({" + ".join(f"COALESCE(arr[{i}].rel, 0)" for i in range(1, 11))})
                AS BIGINT) AS rel_at_10,
           {_mrr_sql()} AS mrr,
           CASE WHEN nr.n_rel <= 0 THEN NULL
                ELSE {_ap10_sql()}
                     / CAST(CASE WHEN nr.n_rel < 10 THEN nr.n_rel ELSE 10 END
                            AS DOUBLE) END AS ap10
    FROM one CROSS JOIN nr
    """,
    tags=("text", "retrieval", "eval"),
    doc="MRR and AP@10 of BM25 vs all-terms relevance; fixed-order "
    "literal-weight trees over the sorted top-10, bit-exact.",
)
def text_retrieval_mrr_map(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    top = bm25_topk(docs, list(_BM25_TERMS), k=10, k1=_BM25_K1, b=_BM25_B)
    ws = F.split("text", " ")
    rel_flag = F.lit(True)
    for t in _BM25_TERMS:
        rel_flag = rel_flag & F.array_contains(ws, t)
    rel = docs.select("doc_id", rel_flag.cast("int").alias("rel"))
    rel = share(rel)  # two consumers: join + n_rel
    j = top.join(rel, "doc_id")
    one = j.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("score")).alias("ns"),
                    F.col("doc_id").alias("d"),
                    F.col("rel").alias("rel"),
                )
            )
        ).alias("arr")
    )
    nr = rel.agg(F.sum("rel").cast("bigint").alias("n_rel"))

    def rel_at(r: int):
        return F.coalesce(F.element_at("arr", r)["rel"], F.lit(0))

    rel10 = rel_at(1)
    for i in range(2, 11):
        rel10 = rel10 + rel_at(i)
    ap = F.lit(0.0)
    for r in range(1, 11):
        cum_r = rel_at(1)
        for i in range(2, r + 1):
            cum_r = cum_r + rel_at(i)
        ap = ap + (rel_at(r) * cum_r).cast("double") * F.lit(1.0 / r)
    mrr = F.lit(0.0)
    for r in range(10, 0, -1):
        mrr = F.when(rel_at(r) == 1, F.lit(1.0 / r)).otherwise(mrr)
    kdenom = F.when(F.col("n_rel") < 10, F.col("n_rel")).otherwise(F.lit(10))
    m = one.crossJoin(F.broadcast(nr))
    return m.select(
        "n_rel",
        rel10.cast("bigint").alias("rel_at_10"),
        mrr.alias("mrr"),
        F.when(F.col("n_rel") <= 0, F.lit(None).cast("double"))
        .otherwise(ap / kdenom.cast("double"))
        .alias("ap10"),
    )


# --------------------------------------------------------------------------
# TextRank keyword extraction: PageRank over the word co-occurrence
# graph (adjacent-token edges, undirected, self-loops dropped) — the
# classic unsupervised keyword ranker, and a second, structurally
# different client of operators/graph.py::pagerank (string nodes, a
# graph built from token adjacency instead of LSH collisions).  The
# iteration itself is the exact-decimal fold graph_pagerank pinned in
# round 3, so the oracle replays it bit-identically via the shared
# _pagerank_oracle with only the edges CTE swapped.  Scale shape: the
# edge build is one corpus scan + DISTINCT over vocab-pair-bounded
# rows; every PageRank round shuffles edges joined to vocab-sized
# ranks; top-k via distributed TakeOrderedAndProject.
# --------------------------------------------------------------------------
_TEXTRANK_TOPK = 20

_TEXTRANK_EDGES_CTE = """WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM w, UNNEST(range(1, len(ws))) AS t(i)
    ),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT w1 AS src, w2 AS dst FROM bg WHERE w1 <> w2
        UNION ALL SELECT w2 AS src, w1 AS dst FROM bg WHERE w1 <> w2
      )
    )"""


@register(
    "text_textrank_keywords",
    oracle=f"""
    SELECT * FROM (
      {_pagerank_oracle(edges_cte=_TEXTRANK_EDGES_CTE)}
    ) ORDER BY rank_approx DESC, node ASC LIMIT {_TEXTRANK_TOPK}
    """,
    tags=("text", "graph", "keywords", "topk"),
    doc="TextRank keywords: exact-decimal PageRank over the adjacent-"
    "token co-occurrence graph; top-20 by rank.",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import pagerank

    docs = read_table(spark, sf_dir, "documents")
    w = docs.select(F.split("text", " ").alias("ws"))
    n1 = F.greatest(F.size("ws") - 1, F.lit(0))
    bg = (
        w.select(
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, n1),
                    F.slice(F.col("ws"), 2, n1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter(F.col("w1") != F.col("w2"))
    )
    edges = (
        bg.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionByName(bg.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .distinct()
    )
    ranked = pagerank(edges, iters=_PAGERANK_ITERS)
    return (
        ranked.select("node", F.col("rank").cast("double").alias("rank_approx"))
        .orderBy(F.desc("rank_approx"), F.asc("node"))
        .limit(_TEXTRANK_TOPK)
    )


# --------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) second-moment sketch: F2 = sum over keys of
# count^2 — the join-size / self-join-cardinality estimator and the
# skew gauge CBO-style planners run BEFORE committing to a shuffle
# strategy.  Five independent +/-1 sign hashes; each sketch counter is
# z_i = SUM over EVENTS of sign_i(user) (equal to sum count*sign by
# linearity, so the sketch needs NO per-key aggregation — one map-side
# combinable pass, mergeable across partitions/streams by addition);
# estimate = median of the five z^2.  Everything is exact integer
# arithmetic in both engines (the estimate's integer square carried as
# DECIMAL(38,0)/HUGEINT); the exact F2 rides the one per-user group-by
# the VERIFICATION needs (the sketch itself never pays it).
# --------------------------------------------------------------------------
_AMS_DEPTH = 5


def _sql_ams_sign(i: int) -> str:
    chunk = f"substr(md5('ams{i}:' || CAST(user_id AS VARCHAR)), 1, 8)"
    return f"(({_sql_hex32(chunk)}) % 2) * 2 - 1"


@register(
    "sketch_ams_f2",
    oracle=f"""
    WITH z AS (
      SELECT {", ".join(
          f"CAST(SUM({_sql_ams_sign(i)}) AS BIGINT) AS z{i}"
          for i in range(_AMS_DEPTH))}
      FROM events
    ),
    ex AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS f2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id)
    )
    SELECT {", ".join(f"z{i}" for i in range(_AMS_DEPTH))},
           CAST(CAST(list_sort([{", ".join(
               f"CAST(z{i} AS HUGEINT) * z{i}" for i in range(_AMS_DEPTH))}])[3]
                AS VARCHAR) AS DOUBLE) AS f2_est,
           CAST(CAST(ex.f2 AS VARCHAR) AS DOUBLE) AS f2_exact
    FROM z, ex
    """,
    tags=("sketch", "ams", "stats"),
    doc="AMS F2 second-moment sketch (5 sign hashes, median of squares) "
    "vs the exact self-join size; map-only mergeable counters.",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import (
        ams_counters,
        ams_estimate,
    )

    ev = read_table(spark, sf_dir, "events")
    est = ams_estimate(ams_counters(ev, "user_id"))
    ex = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("f2")
        )
    )
    return est.crossJoin(F.broadcast(ex)).select(
        *[f"z{i}" for i in range(_AMS_DEPTH)],
        "f2_est",
        F.col("f2").cast("double").alias("f2_exact"),
    )


# --------------------------------------------------------------------------
# KMV A-not-B: estimated size of the UN-MONETIZED audience (users who
# viewed but never purchased) from two k-row sketches — the set-
# difference member of the KMV family (distinct / merge / overlap /
# difference), i.e. the theta-sketch A-not-B on the same portable-md5
# construction.  Exact |A \ B| rides along so the estimator's error is
# visible as data (the family's self-auditing shape).
# --------------------------------------------------------------------------
def _sql_kmv_user(tp: str) -> str:
    return (
        "SELECT DISTINCT "
        + _sql_hex32("substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 8)")
        + f" AS h FROM events WHERE event_type = '{tp}'"
    )


@register(
    "sketch_kmv_anotb",
    oracle=f"""
    WITH ka AS (SELECT h FROM ({_sql_kmv_user("view")}) ORDER BY h LIMIT {_KMV_K}),
    kb AS (SELECT h FROM ({_sql_kmv_user("purchase")}) ORDER BY h LIMIT {_KMV_K}),
    comb AS (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
      ORDER BY h LIMIT {_KMV_K}
    ),
    agg AS (SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_hash FROM comb),
    nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_anotb FROM comb
      WHERE h IN (SELECT h FROM ka) AND h NOT IN (SELECT h FROM kb)
    ),
    ex AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_anotb FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        AND user_id NOT IN (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      )
    )
    SELECT n_sketch, kth_hash, n_anotb,
           CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE)
                ELSE {float((_KMV_K - 1) * 2 ** 32)} / kth_hash END AS est_union,
           (CAST(n_anotb AS DOUBLE) / CAST(n_sketch AS DOUBLE))
             * (CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE)
                     ELSE {float((_KMV_K - 1) * 2 ** 32)} / kth_hash END)
             AS est_anotb,
           exact_anotb
    FROM agg, nd, ex
    """,
    tags=("sketch", "cardinality", "setop"),
    doc="KMV set-difference estimate (viewers who never purchase) with "
    "the exact answer alongside.",
)
def sketch_kmv_anotb(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.sketches import kmv_anotb

    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    est = kmv_anotb(a, "user_id", b, "user_id", k=_KMV_K)
    exact = (
        a.distinct()
        .join(b.distinct(), "user_id", "left_anti")
        .agg(F.count("*").cast("bigint").alias("exact_anotb"))
    )
    return est.crossJoin(F.broadcast(exact))
