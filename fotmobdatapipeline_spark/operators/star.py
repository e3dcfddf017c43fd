"""Star-schema operator toolkit: dimension builders, surrogate keys,
fact assembly, denormalization.

Reference parity (fotmob-dag.py):
* D1-D6 — ``drop_duplicates`` projections + ``dim.index`` surrogate keys
  (dag:124-141).  The pandas RangeIndex key is nondeterministic under
  distribution, so this engine assigns keys with
  ``row_number() OVER (ORDER BY natural_key) - 1`` — dense 0..n-1,
  deterministic, re-run-stable (SURVEY.md §4.3-1).
* J1 — the 5x chained inner equi-join swapping natural keys for surrogate
  keys (dag:144-148); dims are broadcast so the fact never shuffles.
* Q1 — the 5-way denormalizing reporting join
  (sql/create_looker_data_table.sql:1-26).

Scale notes (100 TB):
* ``build_dim`` uses a global ``Window.orderBy`` — a single-partition sort
  that is only correct for *dimension-sized* output (the distinct runs
  distributed first; only the deduped rows funnel to one task).  For
  high-cardinality keying use ``hash_key=True`` which derives a
  collision-checked 64-bit hash key instead — no global sort, no shuffle
  beyond the distinct.
* ``build_fact``/``denormalize`` broadcast every dim under
  ``broadcast_threshold`` rows (explicit ``F.broadcast`` hint, not just
  ``autoBroadcastJoinThreshold``) — the fact side is never shuffled by a
  dim lookup, so the whole key-swap is one map-side stage.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share


def build_dim(
    df: DataFrame,
    natural_keys: Sequence[str],
    key_col: str,
    *,
    hash_key: bool = False,
    verify: bool = True,
) -> DataFrame:
    """Distinct projection of ``natural_keys`` plus a surrogate key.

    dense (default): ``row_number() OVER (ORDER BY natural keys) - 1`` —
    dense 0..n-1 in natural-key order.  Correct for dimension-sized
    results only (the final sort is single-partition by design).

    hash_key=True: ``xxhash64(natural keys)`` — fully distributed, for
    large dims; keys are unique-per-row but sparse.  A silent collision
    (2^-32 at ~6M rows, near-certain by 10^9 rows) would fan out every
    downstream FK join, so the hash path runs ``assert_unique_keys``
    EAGERLY before returning (VERDICT r9 #6) — one distributed
    count/countDistinct agg, fail-loud.  ``verify=False`` opts out when
    the caller runs its own guard (e.g. batched with other checks).
    """
    dim = df.select(*natural_keys).distinct()
    if hash_key:
        dim = dim.select(F.xxhash64(*natural_keys).alias(key_col), *natural_keys)
        # The agg would re-run the distinct; checkpoint so the guard and
        # the returned frame share one materialization.
        dim = share(dim)
        if verify:
            assert_unique_keys(dim, key_col)
        return dim
    w = Window.orderBy(*[F.col(k).asc_nulls_first() for k in natural_keys])
    return dim.select(
        (F.row_number().over(w) - F.lit(1)).cast("long").alias(key_col), *natural_keys
    )


def build_fact(
    flat: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str], str]],
    measures: Sequence[str],
    *,
    extra_keys: Sequence[str] = (),
    broadcast_dims: bool = True,
) -> DataFrame:
    """Swap natural keys for surrogate keys via chained inner equi-joins.

    ``dims`` is ``[(dim_df, join_cols, surrogate_key_col), ...]``; each
    join keeps only the surrogate key from the dim side.  With
    ``broadcast_dims`` every lookup is a broadcast-hash join — the fact
    stays partition-stable through all of them (one map-side stage).
    Mirrors fotmob-dag.py:144-153 (J1 + P3).
    """
    out = flat
    key_cols: list[str] = list(extra_keys)
    for dim_df, on_cols, key_col in dims:
        lookup = dim_df.select(*on_cols, key_col)
        if broadcast_dims:
            lookup = F.broadcast(lookup)
        out = out.join(lookup, on=list(on_cols), how="inner")
        key_cols.append(key_col)
    return out.select(*key_cols, *measures)


def denormalize(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str, Sequence[str]]],
    measures: Sequence[str],
    *,
    broadcast_dims: bool = True,
) -> DataFrame:
    """Re-attach dimension attributes to a fact — the reporting-table join
    (sql:1-26).  ``dims`` is ``[(dim_df, surrogate_key_col,
    attrs_to_keep), ...]``; a dim joined with no attrs acts purely as an
    FK-integrity filter, matching the reference's match_dim join (sql:21,
    SURVEY.md §2 Q1 note)."""
    out = fact
    attr_cols: list[str] = []
    for dim_df, key_col, attrs in dims:
        lookup = dim_df.select(key_col, *attrs)
        if broadcast_dims:
            lookup = F.broadcast(lookup)
        out = out.join(lookup, on=key_col, how="inner")
        attr_cols.extend(attrs)
    return out.select(*measures, *attr_cols)


def assert_unique_keys(dim: DataFrame, key_col: str) -> None:
    """Cheap post-build invariant: surrogate keys are unique.  Runs one
    distributed agg; raise before writing a corrupt dim."""
    row = dim.agg(
        F.count(key_col).alias("n"),
        F.countDistinct(key_col).alias("d"),
    ).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"surrogate key '{key_col}' not unique: {row['n']} rows, {row['d']} distinct"
        )
