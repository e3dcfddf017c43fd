"""Preference-data curation: arena-style pairwise battles -> win rates
and Bradley-Terry ratings (operators/preference.py).

The battle log is derived deterministically from the documents table so
both engines see the identical input: within each lang, consecutive
docs (by doc_id) from different sources form one battle, judged by a
fixed rule (longer text wins; ties to the earlier doc).  ``source``
plays the role of the model under comparison.  A real deployment feeds
actual judge logs in the same (model_a, model_b, winner) shape.

Scale shape: the derivation pairs consecutive docs per lang through the
distributed prefix-scan rank + rank->rank+1 join (``_docs_with_next`` —
a synthetic stand-in; real battle logs arrive pre-formed and need no
successor lookup); win_rates is a single map-side-combinable aggregate; the BTL
win matrix collapses data-scale battles to matchup-cardinality rows
before any iteration, and each MM round is two hash joins + one
aggregate over that matrix (pagerank shape, operators/graph.py).

Determinism: the MM solver is exact-integer micro-unit arithmetic with
truncating integral division — the oracle replays every round verbatim
in HUGEINT, so ``pref_btl_ratings`` is value-exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share
from fotmobdatapipeline_spark.operators.preference import (
    UNIT,
    btl_ratings,
    pairwise_win_matrix,
    win_rates,
)
from fotmobdatapipeline_spark.plans.catalog import register
from fotmobdatapipeline_spark.sources.registry import read_table

_BTL_ITERS = 6
_U2_SQL = f"CAST('{UNIT * UNIT}' AS HUGEINT)"

# Battle derivation, shared by both entries (and the SQL twin below):
# lang-partitioned lead() pairs consecutive docs; longer text wins.
_SQL_BATTLES = """
    s AS (
      SELECT source, n_chars,
             LEAD(source)  OVER (PARTITION BY lang ORDER BY doc_id) AS model_b,
             LEAD(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS chars_b
      FROM documents
    ),
    battles AS (
      SELECT source AS model_a, model_b,
             CASE WHEN chars_b > n_chars THEN model_b ELSE source END AS winner
      FROM s WHERE model_b IS NOT NULL AND model_b <> source
    )
"""


def _docs_with_next(
    spark: SparkSession, sf_dir: str, cols: list[str], next_cols: dict[str, str]
) -> DataFrame:
    """Documents with their per-lang SUCCESSOR's columns attached — the
    scale-safe lead() (round 12): lang has 3-5 values, so a bare
    per-lang window is 3-5 single-task data-scale sorts.  Spelled the
    sweepline way instead (events_session_sweepline precedent): rank
    within lang via the distributed grouped prefix scan, then a
    rank → rank+1 hash join ships each row its successor.  The inner
    join drops each lang's last row — exactly lead()'s NULL row."""
    from fotmobdatapipeline_spark.operators.prefix import grouped_running_sum

    docs = read_table(spark, sf_dir, "documents")
    ranked = (
        grouped_running_sum(
            docs.select("lang", "doc_id", *cols, F.lit(1).alias("one")),
            ["lang"],
            ["doc_id"],
            "one",
            out_col="rk",
        )
        .drop("one")
        .transform(share)  # both sides of the successor join
    )
    nxt = ranked.select(
        "lang",
        (F.col("rk") - 1).alias("rk"),
        *[F.col(src).alias(dst) for src, dst in next_cols.items()],
    )
    return ranked.join(nxt, ["lang", "rk"]).drop("rk")


def _battles(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _docs_with_next(
        spark,
        sf_dir,
        cols=["source", "n_chars"],
        next_cols={"source": "model_b", "n_chars": "chars_b"},
    ).select(
        F.col("source").alias("model_a"),
        F.col("n_chars").alias("chars_a"),
        "model_b",
        "chars_b",
    )
    return s.filter(F.col("model_b") != F.col("model_a")).select(
        "model_a",
        "model_b",
        F.when(F.col("chars_b") > F.col("chars_a"), F.col("model_b"))
        .otherwise(F.col("model_a"))
        .alias("winner"),
    )


@register(
    "pref_winrate",
    oracle=f"""
    WITH {_SQL_BATTLES},
    sides AS (
      SELECT model_a AS model,
             CASE WHEN winner = model_a THEN 1 ELSE 0 END AS win FROM battles
      UNION ALL
      SELECT model_b,
             CASE WHEN winner = model_b THEN 1 ELSE 0 END FROM battles
    )
    SELECT model, COUNT(*) AS n_battles, CAST(SUM(win) AS BIGINT) AS n_wins,
           CAST(SUM(win) AS DOUBLE) / COUNT(*) AS win_rate,
           CAST(SUM(win) + 1 AS DOUBLE) / (COUNT(*) + 2) AS smoothed_rate
    FROM sides GROUP BY model
    """,
    tags=("preference", "rlhf"),
    doc="Arena win rates per model: exact counts, Laplace-smoothed rate.",
)
def pref_winrate(spark: SparkSession, sf_dir: str):
    return win_rates(_battles(spark, sf_dir))


def _btl_cte_body(iters: int = _BTL_ITERS) -> str:
    """WITH-body that leaves r{iters} = (model, p) in scope — shared by
    the ratings entry and the audits composed on top of them."""
    # Every per-round CTE is AS MATERIALIZED: each round references the
    # previous ratings TWICE (both battle endpoints), so DuckDB's default
    # CTE inlining would duplicate the whole upstream tree 2^iters times
    # (observed: fd exhaustion re-opening the parquet at iters=6).
    rounds = []
    for k in range(iters):
        rounds.append(
            f"""d{k} AS MATERIALIZED (
      SELECT m.model,
             SUM((CAST(m.n_pair AS HUGEINT) * {_U2_SQL}) // (pi.p + pj.p)) AS den
      FROM mat m JOIN r{k} pi ON pi.model = m.model
                 JOIN r{k} pj ON pj.model = m.opponent
      GROUP BY m.model
    ),
    u{k} AS MATERIALIZED (
      SELECT mo.model, (mo.w_tot * {_U2_SQL}) // d.den AS pn
      FROM models mo JOIN d{k} d ON d.model = mo.model
    ),
    r{k + 1} AS MATERIALIZED (
      SELECT model,
             (pn * (SELECT COUNT(*) FROM models) * CAST({UNIT} AS HUGEINT))
               // (SELECT SUM(pn) FROM u{k}) AS p
      FROM u{k}
    )"""
        )
    return f"""
    WITH {_SQL_BATTLES},
    pair AS (
      SELECT LEAST(model_a, model_b) AS m1, GREATEST(model_a, model_b) AS m2,
             SUM(CASE WHEN winner = LEAST(model_a, model_b) THEN 1 ELSE 0 END) AS w1,
             SUM(CASE WHEN winner = GREATEST(model_a, model_b) THEN 1 ELSE 0 END) AS w2
      FROM battles GROUP BY 1, 2
    ),
    mat AS MATERIALIZED (
      SELECT m1 AS model, m2 AS opponent, w1 + w2 + 2 AS n_pair, w1 + 1 AS wins
      FROM pair
      UNION ALL
      SELECT m2, m1, w1 + w2 + 2, w2 + 1 FROM pair
    ),
    models AS MATERIALIZED (
      SELECT model, CAST(SUM(wins) AS HUGEINT) AS w_tot FROM mat GROUP BY model
    ),
    r0 AS MATERIALIZED (SELECT model, CAST({UNIT} AS HUGEINT) AS p FROM models),
    {",".join(rounds)}
    """


def _btl_oracle(iters: int = _BTL_ITERS) -> str:
    return f"""
    {_btl_cte_body(iters)}
    SELECT mo.model, CAST(mo.w_tot AS BIGINT) AS n_wins,
           CAST(r.p AS BIGINT) AS rating_micro,
           CAST(r.p AS DOUBLE) / {float(UNIT)} AS rating
    FROM models mo JOIN r{iters} r ON r.model = mo.model
    """


@register(
    "pref_btl_ratings",
    oracle=_btl_oracle(),
    tags=("preference", "rlhf", "iterative"),
    doc="Bradley-Terry MM ratings over the arena battles; integer-exact.",
)
def pref_btl_ratings(spark: SparkSession, sf_dir: str):
    matrix = pairwise_win_matrix(_battles(spark, sf_dir))
    return btl_ratings(matrix, iters=_BTL_ITERS)


# --------------------------------------------------------------------------
# DPO pair export: the step after judging — turn each battle into a
# (chosen, rejected) preference-training pair with curation gates
# (cross-model only, both sides long enough, no identical texts), the
# texts fingerprinted rather than carried (the pair table is an index;
# the trainer joins text back at materialization time).  Zero joins
# here: the battle derivation's lead() window already has both sides'
# text in one row, so chosen/rejected resolve as expressions.  With
# real battle logs (ids only) this becomes two hash joins on doc_id —
# data-scale but plain equi-joins AQE handles.
# len_ratio rides along as data: our synthetic judge IS length, so a
# production anti-length-bias gate would be applied on this column.
# --------------------------------------------------------------------------
_DPO_MIN_CHARS = 60


@register(
    "pref_dpo_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, lang, n_chars, text,
             LEAD(doc_id)  OVER w AS doc_b,
             LEAD(source)  OVER w AS model_b,
             LEAD(n_chars) OVER w AS chars_b,
             LEAD(text)    OVER w AS text_b
      FROM documents
      WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    ),
    b AS (
      SELECT lang,
             CASE WHEN chars_b > n_chars THEN doc_b   ELSE doc_id  END AS chosen_doc,
             CASE WHEN chars_b > n_chars THEN doc_id  ELSE doc_b   END AS rejected_doc,
             CASE WHEN chars_b > n_chars THEN model_b ELSE source  END AS chosen_model,
             CASE WHEN chars_b > n_chars THEN source  ELSE model_b END AS rejected_model,
             CASE WHEN chars_b > n_chars THEN text_b  ELSE text    END AS chosen_text,
             CASE WHEN chars_b > n_chars THEN text    ELSE text_b  END AS rejected_text,
             CASE WHEN chars_b > n_chars THEN chars_b ELSE n_chars END AS chosen_len,
             CASE WHEN chars_b > n_chars THEN n_chars ELSE chars_b END AS rejected_len
      FROM s
      WHERE doc_b IS NOT NULL AND model_b <> source
        AND n_chars >= {_DPO_MIN_CHARS} AND chars_b >= {_DPO_MIN_CHARS}
    )
    SELECT lang, chosen_doc, rejected_doc, chosen_model, rejected_model,
           md5(chosen_text) AS chosen_fp, md5(rejected_text) AS rejected_fp,
           CAST(chosen_len AS DOUBLE) / rejected_len AS len_ratio
    FROM b WHERE chosen_text <> rejected_text
    """,
    tags=("preference", "rlhf"),
    doc="DPO (chosen, rejected) pair export with curation gates; zero joins.",
)
def pref_dpo_pairs(spark: SparkSession, sf_dir: str):
    s = _docs_with_next(
        spark,
        sf_dir,
        cols=["source", "n_chars", "text"],
        next_cols={
            "doc_id": "doc_b",
            "source": "model_b",
            "n_chars": "chars_b",
            "text": "text_b",
        },
    ).filter(
        (F.col("model_b") != F.col("source"))
        & (F.col("n_chars") >= _DPO_MIN_CHARS)
        & (F.col("chars_b") >= _DPO_MIN_CHARS)
    )
    b_wins = F.col("chars_b") > F.col("n_chars")

    def pick(win_col: str, lose_col: str):
        return F.when(b_wins, F.col(win_col)).otherwise(F.col(lose_col))

    b = s.select(
        "lang",
        pick("doc_b", "doc_id").alias("chosen_doc"),
        pick("doc_id", "doc_b").alias("rejected_doc"),
        pick("model_b", "source").alias("chosen_model"),
        pick("source", "model_b").alias("rejected_model"),
        pick("text_b", "text").alias("chosen_text"),
        pick("text", "text_b").alias("rejected_text"),
        pick("chars_b", "n_chars").alias("chosen_len"),
        pick("n_chars", "chars_b").alias("rejected_len"),
    )
    return b.filter(F.col("chosen_text") != F.col("rejected_text")).select(
        "lang",
        "chosen_doc",
        "rejected_doc",
        "chosen_model",
        "rejected_model",
        F.md5("chosen_text").alias("chosen_fp"),
        F.md5("rejected_text").alias("rejected_fp"),
        (F.col("chosen_len").cast("double") / F.col("rejected_len").cast("double")).alias(
            "len_ratio"
        ),
    )


# --------------------------------------------------------------------------
# Judge-noise audit: per model, how many of its wins were UPSETS —
# victories over an opponent the converged Bradley-Terry ratings rank
# higher.  High upset rates localize noisy judges / non-transitive
# matchup pockets before the pairs are exported for training.  The
# ratings table is model-cardinality, so both rating joins are
# AQE-broadcast at any battle volume; the oracle re-derives the exact
# integer ratings via the shared CTE body.
# --------------------------------------------------------------------------
@register(
    "pref_upset_report",
    oracle=f"""
    {_btl_cte_body()},
    j AS (
      SELECT winner,
             CASE WHEN winner = model_a THEN model_b ELSE model_a END AS loser
      FROM battles
    )
    SELECT j.winner AS model, COUNT(*) AS n_wins,
           CAST(SUM(CASE WHEN pw.p < pl.p THEN 1 ELSE 0 END) AS BIGINT) AS n_upsets,
           CAST(SUM(CASE WHEN pw.p < pl.p THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS upset_rate
    FROM j JOIN r{_BTL_ITERS} pw ON pw.model = j.winner
           JOIN r{_BTL_ITERS} pl ON pl.model = j.loser
    GROUP BY j.winner
    """,
    tags=("preference", "rlhf", "audit"),
    doc="Per-model upset wins vs the converged BTL ranking; judge-noise audit.",
)
def pref_upset_report(spark: SparkSession, sf_dir: str):
    battles = _battles(spark, sf_dir)
    ratings = btl_ratings(
        pairwise_win_matrix(battles), iters=_BTL_ITERS
    ).select("model", "rating_micro")
    j = battles.select(
        "winner",
        F.when(F.col("winner") == F.col("model_a"), F.col("model_b"))
        .otherwise(F.col("model_a"))
        .alias("loser"),
    )
    pw = ratings.select(
        F.col("model").alias("winner"), F.col("rating_micro").alias("p_w")
    )
    pl = ratings.select(
        F.col("model").alias("loser"), F.col("rating_micro").alias("p_l")
    )
    upset = (F.col("p_w") < F.col("p_l")).cast("long")
    return (
        j.join(pw, "winner")
        .join(pl, "loser")
        .groupBy(F.col("winner").alias("model"))
        .agg(F.count("*").alias("n_wins"), F.sum(upset).alias("n_upsets"))
        .select(
            "model",
            "n_wins",
            "n_upsets",
            (
                F.col("n_upsets").cast("double") / F.col("n_wins").cast("double")
            ).alias("upset_rate"),
        )
    )


# --------------------------------------------------------------------------
# BTL identifiability audit: ratings are only comparable WITHIN a
# connected component of the matchup graph — a fragmented arena yields
# incomparable islands (Hunter 2004's connectivity condition for MM
# convergence).  Components come from the same iterative min-label
# operator the dedup tier uses (string labels — min over model names);
# the oracle is the recursive-CTE reachability closure.  Output: one
# row per component with its canonical (min) model and size, the
# report a solve should gate on (n_components == 1).
# --------------------------------------------------------------------------
@register(
    "pref_connectivity_audit",
    oracle=f"""
    WITH RECURSIVE {_SQL_BATTLES},
    pairs AS (
      SELECT DISTINCT LEAST(model_a, model_b) AS m1,
             GREATEST(model_a, model_b) AS m2
      FROM battles
      WHERE winner = model_a OR winner = model_b
    ),
    edges AS (
      SELECT m1 AS src, m2 AS dst FROM pairs
      UNION
      SELECT m2, m1 FROM pairs
    ),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT reach.v, edges.dst FROM reach JOIN edges ON reach.r = edges.src
    ),
    labeled AS (SELECT v AS model, MIN(r) AS component FROM reach GROUP BY v)
    SELECT component, COUNT(*) AS n_models
    FROM labeled GROUP BY component
    """,
    tags=("preference", "rlhf", "graph", "audit"),
    doc="Matchup-graph components: the BTL identifiability gate.",
)
def pref_connectivity_audit(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.dedup import connected_dup_clusters

    b = _battles(spark, sf_dir)
    decisive = b.filter(
        (F.col("winner") == F.col("model_a")) | (F.col("winner") == F.col("model_b"))
    )
    pairs = decisive.select(
        F.least("model_a", "model_b").alias("doc_a"),
        F.greatest("model_a", "model_b").alias("doc_b"),
    ).distinct()
    labels = connected_dup_clusters(pairs)
    return labels.groupBy(F.col("cluster_id").alias("component")).agg(
        F.count("*").alias("n_models")
    )


# --------------------------------------------------------------------------
# Rank centrality (Negahban-Oh-Shah): the spectral alternative to the
# MM solver — a weighted random walk on the defeat digraph (loser ->
# winner, weighted by win counts); the stationary distribution ranks
# models.  Exact integer micro-unit walk (operators/graph.py::
# weighted_pagerank) replayed verbatim in HUGEINT by the oracle, same
# MATERIALIZED-CTE discipline as the BTL rounds.  Having BOTH solvers
# lets a pipeline cross-check ratings produced by different algorithms
# on the same battles.
# --------------------------------------------------------------------------
_RC_ITERS = 5
_RC_BASE = 15 * UNIT // 100


def _rank_centrality_oracle(iters: int = _RC_ITERS) -> str:
    rounds = []
    for k in range(iters):
        rounds.append(
            f"""s{k} AS MATERIALIZED (
      SELECT e.dst AS node,
             SUM((r.r * CAST(e.w AS HUGEINT)) // o.w_out) AS in_sum
      FROM edges e JOIN ow o ON o.src = e.src
                   JOIN r{k} r ON r.node = e.src
      GROUP BY e.dst
    ),
    r{k + 1} AS MATERIALIZED (
      SELECT n.node,
             CAST({_RC_BASE} AS HUGEINT)
               + (85 * COALESCE(s.in_sum, 0)) // 100 AS r
      FROM nodes n LEFT JOIN s{k} s ON s.node = n.node
    )"""
        )
    return f"""
    WITH {_SQL_BATTLES},
    pair AS (
      SELECT LEAST(model_a, model_b) AS m1, GREATEST(model_a, model_b) AS m2,
             SUM(CASE WHEN winner = LEAST(model_a, model_b) THEN 1 ELSE 0 END) AS w1,
             SUM(CASE WHEN winner = GREATEST(model_a, model_b) THEN 1 ELSE 0 END) AS w2
      FROM battles GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
      SELECT m2 AS src, m1 AS dst, w1 AS w FROM pair WHERE w1 > 0
      UNION ALL
      SELECT m1, m2, w2 FROM pair WHERE w2 > 0
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    ow AS MATERIALIZED (
      SELECT src, CAST(SUM(w) AS HUGEINT) AS w_out FROM edges GROUP BY src
    ),
    r0 AS MATERIALIZED (SELECT node, CAST({UNIT} AS HUGEINT) AS r FROM nodes),
    {",".join(rounds)}
    SELECT node, CAST(r AS BIGINT) AS rank_micro,
           CAST(r AS DOUBLE) / {float(UNIT)} AS rank
    FROM r{iters}
    """


@register(
    "pref_rank_centrality",
    oracle=_rank_centrality_oracle(),
    tags=("preference", "rlhf", "graph", "iterative"),
    doc="Rank centrality: weighted walk on the defeat digraph; integer-exact.",
)
def pref_rank_centrality(spark: SparkSession, sf_dir: str):
    from fotmobdatapipeline_spark.operators.graph import weighted_pagerank
    from fotmobdatapipeline_spark.operators.preference import raw_pair_counts

    pair = raw_pair_counts(_battles(spark, sf_dir))
    edges = (
        pair.filter(F.col("w1") > 0)
        .select(
            F.col("m2").alias("src"), F.col("m1").alias("dst"), F.col("w1").alias("w")
        )
        .unionByName(
            pair.filter(F.col("w2") > 0).select(
                F.col("m1").alias("src"),
                F.col("m2").alias("dst"),
                F.col("w2").alias("w"),
            )
        )
    )
    return weighted_pagerank(edges, iters=_RC_ITERS, unit=UNIT)


# --------------------------------------------------------------------------
# Solver-agreement audit: Kendall tau-a between the BTL ratings and the
# Laplace-smoothed win rates — large disagreement flags either heavy
# matchup imbalance (win rate is confounded by opponent strength; BTL
# corrects it) or a data problem.  Model-cardinality self-join (190
# pairs at 20 models); exact integer concordance counts, tau is one
# IEEE division.  The oracle reuses the shared BTL CTE body plus the
# win-rate aggregate.
# --------------------------------------------------------------------------
@register(
    "pref_solver_agreement",
    oracle=f"""
    {_btl_cte_body()},
    sides AS (
      SELECT model_a AS model,
             CASE WHEN winner = model_a THEN 1 ELSE 0 END AS win FROM battles
      UNION ALL
      SELECT model_b,
             CASE WHEN winner = model_b THEN 1 ELSE 0 END FROM battles
    ),
    wr AS (
      SELECT model,
             CAST(SUM(win) + 1 AS DOUBLE) / (COUNT(*) + 2) AS sr
      FROM sides GROUP BY model
    ),
    both_scores AS MATERIALIZED (
      SELECT r.model, r.p, wr.sr
      FROM r{_BTL_ITERS} r JOIN wr ON wr.model = r.model
    ),
    pairs2 AS (
      SELECT (CASE WHEN (a.p > b.p AND a.sr > b.sr)
                     OR (a.p < b.p AND a.sr < b.sr) THEN 1 ELSE 0 END) AS conc,
             (CASE WHEN (a.p > b.p AND a.sr < b.sr)
                     OR (a.p < b.p AND a.sr > b.sr) THEN 1 ELSE 0 END) AS disc
      FROM both_scores a JOIN both_scores b ON a.model < b.model
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS n_concordant,
           CAST(SUM(disc) AS BIGINT) AS n_discordant,
           CAST(SUM(conc) - SUM(disc) AS DOUBLE) / COUNT(*) AS tau_a
    FROM pairs2
    """,
    tags=("preference", "rlhf", "audit"),
    doc="Kendall tau-a between BTL ratings and smoothed win rates.",
)
def pref_solver_agreement(spark: SparkSession, sf_dir: str):
    battles = _battles(spark, sf_dir)
    btl = btl_ratings(
        pairwise_win_matrix(battles), iters=_BTL_ITERS
    ).select("model", F.col("rating_micro").alias("p"))
    wr = win_rates(battles).select("model", F.col("smoothed_rate").alias("sr"))
    both_scores = btl.join(wr, "model")
    a = both_scores.select(
        F.col("model").alias("ma"), F.col("p").alias("pa"), F.col("sr").alias("sa")
    )
    b = both_scores.select(
        F.col("model").alias("mb"), F.col("p").alias("pb"), F.col("sr").alias("sb")
    )
    pairs2 = a.join(b, F.col("ma") < F.col("mb"))
    conc = (
        ((F.col("pa") > F.col("pb")) & (F.col("sa") > F.col("sb")))
        | ((F.col("pa") < F.col("pb")) & (F.col("sa") < F.col("sb")))
    ).cast("long")
    disc = (
        ((F.col("pa") > F.col("pb")) & (F.col("sa") < F.col("sb")))
        | ((F.col("pa") < F.col("pb")) & (F.col("sa") > F.col("sb")))
    ).cast("long")
    return pairs2.agg(
        F.count("*").alias("n_pairs"),
        F.sum(conc).alias("n_concordant"),
        F.sum(disc).alias("n_discordant"),
        (
            (F.sum(conc) - F.sum(disc)).cast("double") / F.count("*").cast("double")
        ).alias("tau_a"),
    )
