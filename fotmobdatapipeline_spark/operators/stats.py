"""Exact distributed quantiles.

``approx_percentile`` (KLL/GK sketches) is the right default at 100 TB,
but data-quality gates and oracle checks need *exact*, reproducible
quantiles.  ``exact_group_quantiles`` computes linear-interpolated
percentiles (the PERCENTILE_CONT definition) by two-phase distributed
SELECTION over the distinct-value counts — no group ever sorts inside
one partition (the shape that killed the old
``Window.partitionBy(group).orderBy(v)`` row_number at data-scale
groups like the 2-arm A/B split), and only ONE data-scale shuffle:

* rows range-partition by (group, value); equal keys co-locate, so the
  distinct-value collapse ``groupBy(group, v).count()`` runs WITHOUT a
  second exchange (RangePartitioning satisfies the aggregate's
  clustering) — heavy-tie columns shrink to value cardinality here;
* a local cumulative count per (spark partition, group) gives each
  distinct value its local rank range; the per-(partition, group)
  totals table (tiny: groups are range-contiguous, so
  <= n_parts + n_groups - 1 rows) yields every group's exclusive
  offsets AND its total n — no second pass over the data for either;
* each requested p needs at most TWO order statistics per group (ranks
  floor(pos) and floor(pos)+1, pos = (n-1)*p); the targets are computed
  on the tiny table, broadcast back, and picked out by local rank-range
  containment — the pick join matches <= 2*|ps| rows per group;
* the interpolation v[flo]*(1-frac) + v[flo+1]*frac sums at most two
  doubles (IEEE-commutative), mirrored verbatim in the DuckDB oracle:
  results are bit-identical.

Works for BOTH regimes: categorical group keys with data-scale groups
(each group spreads across partitions) and high-cardinality group keys
(each group spans few partitions; the totals table stays linear, not
quadratic, by range contiguity).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share


def _distinct_value_runs(
    df: DataFrame,
    value_col: str,
    gcols: Sequence[str],
    n_parts: int,
) -> DataFrame:
    """Range-partition (group, v), collapse to distinct values with
    counts IN PLACE, and stamp each run with its partition id.

    Correctness contract (ADVICE r10, pinned by
    tests/test_plan_shapes.py::test_group_quantiles_agg_reuses_range_partitioning):
    the groupBy(gcols, v) must REUSE the RangePartitioning — exactly one
    ``Exchange rangepartitioning`` in this subtree and no ``Exchange
    hashpartitioning`` — because downstream rank arithmetic assumes
    ``_pid`` ascends with value ranges.  Spark satisfies the aggregate's
    clustering requirement with the existing range exchange today; if a
    planner change ever inserts a hash exchange here, the plan test
    fails loud instead of quantiles going silently wrong."""
    parted = df.select(*gcols, F.col(value_col).alias("v")).repartitionByRange(
        n_parts, *[F.col(c) for c in gcols], F.col("v")
    )
    return (
        parted.groupBy(*gcols, "v")
        .agg(F.count("*").alias("_cnt"))
        .sortWithinPartitions(*gcols, "v")
        .withColumn("_pid", F.spark_partition_id())
    )


def exact_group_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    ps: Sequence[float] = (0.5, 0.9),
    names: Sequence[str] | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """PERCENTILE_CONT per group via distributed rank selection (see
    module docstring).  Returns one row per group with one column per
    requested percentile."""
    names = list(names or [f"p{int(p * 100)}" for p in ps])
    gcols = list(group_cols)
    if n_parts is None:
        n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    dv = _distinct_value_runs(df, value_col, gcols, n_parts)
    w_local = (
        Window.partitionBy("_pid", *gcols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # CHECKPOINT — correctness-critical (the operators/prefix.py rule):
    # the ranked frame feeds both the totals aggregate and the final
    # pick join; without one materialization each consumer re-runs
    # repartitionByRange, whose boundary SAMPLING can differ between
    # evaluations — offsets would then describe a different partitioning
    # than the rows they select from.
    local = share(dv.withColumn("_upto", F.sum("_cnt").over(w_local)))

    # Tiny by range contiguity: <= n_parts + n_groups - 1 rows.  The
    # exclusive per-group prefix is each partition's rank offset; the
    # per-group total n comes from the same table — no data-scale pass.
    counts = local.groupBy("_pid", *gcols).agg(F.sum("_cnt").alias("_c"))
    w_off = (
        Window.partitionBy(*gcols).orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        if gcols
        else Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    w_grp = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    offs = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(w_off), F.lit(0))
    ).withColumn("n", F.sum("_c").over(w_grp))

    # Per (partition, group): which 0-based target ranks land here.
    # Each p contributes targets flo (weight 1-frac) and flo+1 (weight
    # frac, only when frac > 0) — the PERCENTILE_CONT picks, mirrored
    # verbatim in the oracle SQL.
    targets = []
    for i, p in enumerate(ps):
        pos = (F.col("n") - 1) * F.lit(p)
        flo = F.floor(pos)
        frac = pos - flo
        targets.append(
            F.struct(
                F.lit(i).alias("pi"),
                flo.alias("t"),
                (F.lit(1.0) - frac).alias("w"),
            )
        )
        targets.append(
            F.struct(
                F.lit(i).alias("pi"),
                F.when(frac > 0, flo + 1).otherwise(F.lit(None)).alias("t"),
                frac.alias("w"),
            )
        )
    needs = (
        offs.select(
            "_pid",
            *gcols,
            "_off",
            "_c",
            F.explode(F.array(*targets)).alias("tg"),
        )
        .filter(
            F.col("tg.t").isNotNull()
            & (F.col("tg.t") >= F.col("_off"))
            & (F.col("tg.t") < F.col("_off") + F.col("_c"))
        )
        .select(
            # Renamed: needs derives FROM local (via counts), so joining
            # on same-named columns is an ambiguous self-join.
            F.col("_pid").alias("_n_pid"),
            *[F.col(c).alias(f"_n_{i}") for i, c in enumerate(gcols)],
            F.col("tg.pi").alias("_pi"),
            (F.col("tg.t") - F.col("_off")).alias("_tl"),  # local 0-based
            F.col("tg.w").alias("_w"),
        )
    )

    # A distinct-value row covers local 0-based ranks
    # [_upto - _cnt, _upto); a tie run containing BOTH targets of one p
    # matches twice and contributes v*(1-frac) + v*frac — exactly the
    # per-row oracle sum.
    cond = (
        (F.col("_pid") == F.col("_n_pid"))
        & (F.col("_tl") >= F.col("_upto") - F.col("_cnt"))
        & (F.col("_tl") < F.col("_upto"))
    )
    for i, c in enumerate(gcols):
        cond = cond & (F.col(c) == F.col(f"_n_{i}"))
    picked = local.join(F.broadcast(needs), on=cond).select(
        *gcols, "_pi", (F.col("v") * F.col("_w")).alias("_contrib")
    )

    # <= 2 contributions per (group, p): the SUM adds at most two
    # doubles — IEEE addition is commutative, so partitioning order
    # cannot change the value.
    aggs = [
        F.sum(F.when(F.col("_pi") == i, F.col("_contrib"))).alias(name)
        for i, name in enumerate(names)
    ]
    if gcols:
        return picked.groupBy(*gcols).agg(*aggs)
    return picked.agg(*aggs)


def exact_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n: int,
    out_col: str = "ntile",
    n_parts: int | None = None,
) -> DataFrame:
    """SQL NTILE(n) OVER (ORDER BY order_cols ASC) without the
    partition-less window (one executor sorting everything at data
    scale): exact 1-based ranks from the two-phase distributed prefix
    scan (operators/prefix.py), then the bucket by pure integer
    arithmetic on the broadcast row count — with q = N div n,
    rem = N % n, 0-based rank r0 lands in bucket r0 div (q+1) + 1 while
    r0 < rem*(q+1), else rem + (r0 - rem*(q+1)) div q + 1: exactly
    NTILE's definition, bit-identical to the SQL oracle.  The order key
    must be a total order (add a unique tiebreak); for DESC terms pass
    a negated column.  Appends ``out_col`` (int)."""
    from fotmobdatapipeline_spark.operators.prefix import running_sum

    ranked = running_sum(
        df.withColumn("_nt_one", F.lit(1)),
        list(order_cols),
        "_nt_one",
        out_col="_nt_rnk",
        n_parts=n_parts,
    ).drop("_nt_one")
    nrow = df.agg(F.count("*").alias("_nt_n"))
    out = (
        ranked.crossJoin(F.broadcast(nrow))  # 1-row scalar by construction
        .withColumn("_nt_q", F.expr(f"_nt_n div {n}"))
        .withColumn("_nt_rem", F.col("_nt_n") % n)
        .withColumn("_nt_r0", F.col("_nt_rnk") - 1)
        .withColumn("_nt_cut", F.col("_nt_rem") * (F.col("_nt_q") + 1))
        .withColumn(
            out_col,
            F.when(
                F.col("_nt_r0") < F.col("_nt_cut"),
                F.expr("_nt_r0 div (_nt_q + 1)") + F.lit(1),
            )
            .otherwise(
                F.col("_nt_rem") + F.expr("(_nt_r0 - _nt_cut) div _nt_q") + F.lit(1)
            )
            .cast("int"),
        )
    )
    return out.drop("_nt_rnk", "_nt_n", "_nt_q", "_nt_rem", "_nt_r0", "_nt_cut")
