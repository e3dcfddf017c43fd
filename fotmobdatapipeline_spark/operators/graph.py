"""Iterative graph computation: PageRank over a DataFrame edge list.

Together with operators/dedup.py::connected_dup_clusters this covers the
iterative-algorithm surface: fixed-round message passing with bounded
per-round cost.  Rank centrality over the near-duplicate candidate
graph ranks the "hub" documents a dedup pass should keep (or audit)
first.

Determinism: ranks are exact DECIMAL(38, 18) throughout — decimal sums
are order-insensitive, so results are bit-identical across partitionings
and re-runs (a double-based rank would drift with shuffle order).
Decimal division rounds HALF_UP at scale 18 (Spark's decimal divide
semantics — what the HUGEINT replay oracle models); that rounding is
itself deterministic.

Scale notes:
* Each round is one join (edges x ranks, both partitioned on src) and
  one aggregation (contributions by dst) — the same bounded shuffle
  pair every round; AQE handles skewed hub nodes.
* A checkpoint (``lineage``) cuts lineage each round: without it the plan
  doubles per iteration and the driver OOMs on plan serialization long
  before the data is the problem (same hygiene as
  connected_dup_clusters).
* Dangling nodes (no out-edges) leak their mass — the standard
  simplified formulation; total rank is then <= n and monotonically
  decreasing in the leak, which the tests pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share, truncate
from fotmobdatapipeline_spark.operators.exactmath import floor_div

_ONE = "CAST(1 AS DECIMAL(38,18))"
_DAMP = "CAST(0.85 AS DECIMAL(3,2))"
_BASE = "CAST(0.15 AS DECIMAL(3,2))"


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
) -> DataFrame:
    """(node, rank) after ``iters`` rounds of rank = 0.15 + 0.85 * sum of
    rank/deg over in-neighbors, starting from rank 1."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(truncate)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # Edges pre-joined with out-degree once; every round reuses this.
    ed = truncate(e.join(deg, "src"))

    ranks = nodes.withColumn("rank", F.expr(_ONE))
    for _ in range(iters):
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.expr(_BASE)
                    + F.expr(_DAMP)
                    * F.coalesce(F.col("in_sum"), F.expr("CAST(0 AS DECIMAL(38,18))"))
                )
                .cast("decimal(38,18)")
                .alias("rank"),
            )
            # LAZY checkpoint (r14): truncates the logical plan exactly
            # like the eager form (no per-iteration plan growth), but
            # materialization happens inside the next round's job
            # instead of one dedicated job per round — ranks has a
            # single consumer per round, so nothing is recomputed.
            .transform(share)
        )
    return ranks


def weighted_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 5,
    unit: int = 10**12,
) -> DataFrame:
    """Weighted PageRank in exact integer micro-units: rank flows along
    edges proportionally to integer weights — rank-centrality-style
    spectral ranking over count-weighted digraphs (Negahban, Oh & Shah,
    "Iterative Ranking from Pair-wise Comparisons", NeurIPS 2012 is the
    statistical grounding for using the stationary walk as a rating).

    Per round (all arithmetic DECIMAL(38,0) with the exact truncating
    floor-division from operators/exactmath.py — no LONG wrap, no float):

        contrib_e = (rank_src * w_e)    fdiv W_src      (W = out-weight)
        rank_v'   = 0.15*unit + (85 * sum contribs) fdiv 100

    Same bounded shuffle pair per round as :func:`pagerank` (one join,
    one aggregate, checkpoint hygiene); dangling nodes leak mass as in
    the unweighted form.  Output (node, rank_micro BIGINT, rank DOUBLE).
    """
    dec = "decimal(38,0)"
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).filter(F.col(weight) > 0)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(truncate)
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("w_out"))
    ed = truncate(e.join(out_w, "src"))

    base = 15 * unit // 100  # 0.15 * unit, exact

    ranks = nodes.select("node", F.lit(unit).cast(dec).alias("r"))
    for _ in range(iters):
        contribs = (
            ed.join(ranks, ed.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                floor_div(f"CAST(r AS {dec}) * CAST(w AS {dec})",
                          f"CAST(w_out AS {dec})").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast(dec)
                    + floor_div(
                        f"CAST(85 AS {dec})"
                        f" * COALESCE(in_sum, CAST(0 AS {dec}))",
                        "CAST(100 AS decimal(38,0))",
                    )
                )
                .cast(dec)
                .alias("r"),
            )
            # LAZY checkpoint (r14): same single-consumer-per-round
            # argument as :func:`pagerank` above.
            .transform(share)
        )
    return ranks.select(
        "node",
        F.col("r").cast("bigint").alias("rank_micro"),
        (F.col("r").cast("double") / F.lit(float(unit))).alias("rank"),
    )


def kcore(
    pairs: DataFrame,
    k: int = 3,
    rounds: int = 6,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """K-core peeling over an undirected pair graph: iteratively drop
    nodes with degree < k, ``rounds`` times, and return the surviving
    (doc_id, core_deg) with degree measured inside the surviving
    subgraph — the dense-region extractor (near-dup "cliques" and
    template farms survive; chains and stars peel away).

    Fixed-round for cross-engine replay (the oracle unrolls the same
    rounds): peeling is monotone, so a converged graph is a fixpoint
    and extra rounds are no-ops.  Convergence needs at most |V| rounds
    in theory but degree-k peeling settles in a handful on real dedup
    graphs; production callers can re-invoke with more rounds if the
    final filter still removes nodes.

    Scale notes: each round is one degree aggregate plus two semi-joins
    of the edge list against the keep set (all key-partitioned hash
    operations, no node ever sees more than its neighborhood), with
    checkpoint (``lineage.truncate``) hygiene per round like pagerank above.
    """
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .transform(truncate)
    )
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .transform(truncate)
        )
    final_deg = e.groupBy("src").agg(F.count("*").alias("core_deg"))
    return final_deg.filter(F.col("core_deg") >= k).select(
        F.col("src").alias("doc_id"), "core_deg"
    )


def triangle_counts(
    pairs: DataFrame, id_a: str = "doc_a", id_b: str = "doc_b"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected pair
    graph — the local clustering signal (dense near-dup neighborhoods
    form many triangles; chains form none).

    Standard distributed algorithm: orient every edge low-id -> high-id
    (each triangle then has exactly ONE representation x < y < z, so no
    dedup pass), and enumerate with two equi-joins: (x,y) ⋈ (y,z) ⋈
    (x,z).  Join fan-out is bounded by oriented degree — orientation
    halves the worst hub degree, the classic mitigation — and both
    joins are plain hash joins AQE can re-plan for skew.  No cartesian,
    no per-node adjacency materialization.

    Output: (doc_id, n_triangles) for every node in >= 1 triangle.
    """
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
    )


def min_label_propagation(
    pairs: DataFrame,
    rounds: int = 6,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Connected components by fixed-round min-label propagation WITH
    pointer jumping over an undirected pair graph: every node starts
    labelled with its own id; each round a node takes (a) the minimum
    of its neighbors' labels and (b) its label's own label (pointer
    jumping — labels are always node ids, so every label resolves in
    the label table).  Propagation alone needs diameter rounds; the
    jumping step halves chain lengths per round, so ``rounds`` rounds
    converge any component of diameter up to ~2**rounds (64 at the
    default 6) — the same doubling trick as the converged, loop-
    terminated :func:`fotmobdatapipeline_spark.operators.dedup.
    connected_dup_clusters`, but with a FIXED round count so the SQL
    oracle can replay the computation verbatim (the pagerank/kcore
    doctrine) and the result is value-exact-verifiable.  For truly
    unbounded diameters (pathological at LSH-graph scale) use the
    loop-terminated operator, which is rows-only checkable.

    Scale notes: each round is one (edges x labels) hash join on src
    plus a min-aggregate on dst, and one label-table self-join for the
    jump — all key-partitioned; no node ever sees more than its own
    neighborhood, no collect, no window.  A checkpoint per round
    truncates the per-round lineage growth exactly like pagerank above.

    Output: (doc_id, component) for every node in >= 1 pair.
    """
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .transform(truncate)
    )
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(truncate)
    )
    for _ in range(rounds):
        neigh = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("_nl"))
        )
        # LAZY checkpoint on merged (r14): the pointer-jumping self-join
        # below consumes merged TWICE (sides a and b); without the
        # checkpoint the neigh join + merge is duplicated into both
        # sides of the self-join and executed twice every round — a 2x
        # data-scale waste at any size.  The lazy form truncates the
        # plan immediately (both sides reference ONE checkpointed RDD,
        # computed once and persisted) without paying a dedicated
        # materialization job per round.
        merged = labels.join(neigh, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("_nl"), F.col("label"))).alias(
                "label"
            ),
        ).transform(share)
        # Pointer jumping: follow my label to ITS label.  Labels are
        # node ids drawn from the label table's own node set, so the
        # inner self-join resolves every row.
        a, b = merged.alias("a"), merged.alias("b")
        labels = (
            a.join(b, F.col("a.label") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.least(F.col("a.label"), F.col("b.label")).alias("label"),
            )
            .transform(share)
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
