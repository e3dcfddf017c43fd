"""Distributed prefix sums — the scale-correct form of
``SUM(x) OVER (ORDER BY ...)``.

A global running total expressed as one Spark window collapses the whole
table into a single partition (Window.orderBy with no partitionBy); at
100 TB that is one executor sorting everything.  The classic fix is the
two-phase scan: range-partition by the global order, compute each
partition's LOCAL running sum, then add the (tiny, driver-collected)
exclusive prefix of per-partition totals.  Work stays fully distributed;
the only serial step is the per-partition totals array (#partitions
values).

Used by plans/llmdata.py::pack_sequences to pack context-window chunks
into fixed token-budget training sequences.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share

# Logical-plan nodes whose recompute does real work (shuffles, fan-out,
# scans of heavy expressions).  A plan made only of leaves +
# Project/Filter-class row-local ops is cheap to evaluate twice and NOT
# worth an extra persist (see the gate in grouped_running_sums).
_EXPENSIVE_NODE = re.compile(
    r"^(?:[:+\-\s]*)(Join|Aggregate|Window|Generate|Sort|Distinct|Union|"
    r"GlobalLimit|Expand|Deduplicate|RepartitionByExpression|Repartition)\b",
    re.MULTILINE,
)


# A file-source leaf in the analyzed plan ("Relation [...] parquet" /
# csv / json); LogicalRDD (checkpointed) and LocalRelation leaves do NOT
# match — a subtree whose every leaf is already persisted re-evaluates
# as one cheap pass over executor-local blocks.
_FILE_RELATION = re.compile(r"^[:+\-\s]*Relation ?\[", re.MULTILINE)


def _recompute_is_expensive(df: DataFrame) -> bool:
    """True when the analyzed logical plan contains a shuffle/fan-out
    node AND reads a file source somewhere below it — the sampling pass
    of repartitionByRange would then re-run real upstream work.  A plan
    over checkpointed-RDD/local leaves (even with joins above them, e.g.
    the dominance kernel's level expansion over persisted cells) or a
    leaf + row-local-ops plan reads back cheaply and is not worth an
    extra persist."""
    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True  # can't inspect -> assume expensive (safe direction)
    return bool(_EXPENSIVE_NODE.search(s)) and bool(_FILE_RELATION.search(s))


def running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    n_parts: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = sum of ``value_col`` over all rows up to and
    including this one in ``order_cols`` order (ties broken by the full
    order key, which must be unique for a deterministic result).

    Plan: repartitionByRange(order) -> in-partition sort + running sum
    (window partitioned BY Spark partition id, so no single-partition
    collapse) -> broadcast-join the exclusive per-partition offsets."""
    return grouped_running_sum(
        df, [], order_cols, value_col, out_col=out_col, n_parts=n_parts
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    n_parts: int | None = None,
) -> DataFrame:
    """Per-group running total in ``order_cols`` order WITHIN each
    ``group_cols`` group — the scale-correct form of
    ``SUM(x) OVER (PARTITION BY g ORDER BY ...)`` when individual groups
    are data-scale (few groups, many rows each: per-variant ranks in the
    A/B family, per-flag quantiles).  With ``group_cols=[]`` this is the
    global :func:`running_sum`.

    Plan: repartitionByRange(group, order) — each group occupies a
    CONTIGUOUS run of partitions — then a window partitioned by
    (spark partition id, group) for the local run, plus the exclusive
    per-(group, partition) offsets joined back by broadcast.

    The offsets side is tiny by construction: because groups are
    range-contiguous, the (partition, group) pair count is at most
    ``n_parts + n_groups - 1`` rows, NOT their product.  If group
    cardinality itself is data-scale, per-group row counts are small and
    a plain ``Window.partitionBy(group)`` is the right tool instead —
    this helper is for the opposite regime."""
    return grouped_running_sums(
        df, group_cols, order_cols, [value_col], [out_col], n_parts=n_parts
    )


def grouped_running_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_cols: list[str],
    out_cols: list[str],
    n_parts: int | None = None,
) -> DataFrame:
    """Per-group running totals of SEVERAL value columns in one pass —
    the same two-phase scan as :func:`grouped_running_sum`, paying the
    range shuffle, sort, checkpoint and offsets join ONCE for all
    columns (r14: three chained single-column scans over the same order
    key were three full shuffles of the same rows)."""
    if len(value_cols) != len(out_cols):
        raise ValueError("value_cols and out_cols must pair up")
    if n_parts is None:
        n_parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        n_parts = int(n_parts)
    # repartitionByRange's boundary SAMPLING pass computes the full
    # input lineage once, and the shuffle itself computes it AGAIN — a
    # 2x recompute of everything upstream at any scale (for
    # llm_prep_pipeline_v3 that was the whole blocklist+LM+dedup chain
    # twice per run; measured -41% on the entry from this line, r14).
    # Share the input so both passes read one materialization — but
    # only when the input is actually expensive to recompute: for an
    # already-checkpointed leaf (or leaf + cheap row-local ops) the
    # extra persist measured ~10% SLOWER (agg_winsorized).
    if _recompute_is_expensive(df):
        df = share(df)
    gcols = list(group_cols)
    order = [F.col(c) for c in gcols + list(order_cols)]
    parted = (
        df.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("_pid", *gcols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # CHECKPOINT — correctness-critical, not an optimization.  `local`
    # has two consumers (the offsets aggregate below and the final
    # join); without a checkpoint each consumer re-executes the
    # repartitionByRange, whose boundary SAMPLING is not stable when
    # the input's row order varies across evaluations (join/aggregate
    # lineages) — the offsets then describe a DIFFERENT partitioning
    # than the rows they are joined to, silently corrupting the prefix
    # sums.  Deterministic scan inputs masked this; a full-outer-join
    # input exposed it (drift_value_ks, round 5).  One materialization
    # = one set of boundaries = offsets that match their rows.
    local = parted
    for vc, oc in zip(value_cols, out_cols):
        local = local.withColumn(
            f"_local_run_{oc}", F.sum(F.col(vc)).over(w_local)
        )
    local = share(local)

    # Tiny: <= n_parts + n_groups - 1 rows (groups are range-contiguous);
    # each group's exclusive prefix over partition ids is the offset.
    w_off = (
        Window.partitionBy(*gcols).orderBy("_pid").rowsBetween(
            Window.unboundedPreceding, -1
        )
        if gcols
        else Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        local.groupBy("_pid", *gcols)
        .agg(*[F.sum(vc).alias(f"_part_total_{oc}")
               for vc, oc in zip(value_cols, out_cols)])
    )
    for oc in out_cols:
        offsets = offsets.withColumn(
            f"_offset_{oc}",
            F.coalesce(F.sum(f"_part_total_{oc}").over(w_off), F.lit(0)),
        )
    offsets = offsets.select(
        "_pid", *gcols, *[f"_offset_{oc}" for oc in out_cols]
    )
    out = local.join(F.broadcast(offsets), ["_pid", *gcols])
    for oc in out_cols:
        out = out.withColumn(
            oc,
            (F.col(f"_local_run_{oc}") + F.col(f"_offset_{oc}")).cast("long"),
        )
    # Drop ALL helpers — a leaked _offset makes chained running_sum
    # calls (two cumulative columns over the same order) ambiguous.
    return out.drop(
        "_pid",
        *[f"_local_run_{oc}" for oc in out_cols],
        *[f"_offset_{oc}" for oc in out_cols],
    )


def pack_by_budget(running: Column, value: Column, budget: int) -> Column:
    """Sequence id for contiguous token packing: a chunk whose EXCLUSIVE
    running total is t goes to bin floor(t / budget).  Chunks never
    split; a bin may overflow by at most one chunk's tokens — the
    standard contiguous-packing tradeoff."""
    return F.floor((running - value) / budget).cast("int")


def block_spans(
    df: DataFrame,
    order_cols: list[str],
    tokens_col: str,
    block_size: int,
) -> DataFrame:
    """GPT-style concat-and-chunk packing: the global token stream
    (documents concatenated in ``order_cols`` order) split into blocks
    of EXACTLY ``block_size`` tokens, documents crossing block
    boundaries — the other standard pretraining layout next to
    :func:`pack_by_budget`'s never-split bins (every block but the last
    is exactly full; no padding waste, at the cost of boundary-split
    documents).

    Output: one row per (document, block) span —
    ``block_id``, ``span_start`` / ``span_end`` (global token offsets,
    end-exclusive), ``span_tokens``, ``carried_in`` (the document
    started in an earlier block) — plus the input columns.  A document
    of n tokens emits ceil-ish (n / block_size) + boundary rows; total
    output is rows + blocks, never quadratic.

    Scale shape: the only non-map stage is :func:`running_sum`'s
    two-phase prefix scan (range shuffle + broadcast offsets); span
    generation is a per-row sequence explode with fan-out bounded by
    each document's own length.  Zero-token rows emit nothing.

    Raises on input columns that collide with the five output columns
    (a silent withColumn overwrite would corrupt the caller's data);
    internal helpers use collision-proof ``__bs_`` names."""
    out_names = {"block_id", "span_start", "span_end", "span_tokens", "carried_in"}
    clash = out_names & set(df.columns)
    if clash:
        raise ValueError(
            f"block_spans output columns collide with input: {sorted(clash)}"
        )
    run = running_sum(df, order_cols, tokens_col, out_col="__bs_run")
    start = F.col("__bs_run") - F.col(tokens_col)
    spans = (
        run.filter(F.col(tokens_col) > 0)
        .withColumn("__bs_start", start)
        .withColumn(
            "__bs_block",
            F.explode(
                F.sequence(
                    F.floor(start / block_size),
                    F.floor((F.col("__bs_run") - 1) / block_size),
                )
            ),
        )
    )
    b0 = F.col("__bs_block") * block_size
    return spans.select(
        *df.columns,
        F.col("__bs_block").cast("long").alias("block_id"),
        F.greatest(F.col("__bs_start"), b0).cast("long").alias("span_start"),
        F.least(F.col("__bs_run"), b0 + block_size).cast("long").alias("span_end"),
        (
            F.least(F.col("__bs_run"), b0 + block_size)
            - F.greatest(F.col("__bs_start"), b0)
        ).cast("long").alias("span_tokens"),
        (F.col("__bs_start") < b0).alias("carried_in"),
    )
