"""Live arena leaderboard: fold each micro-batch of battle outcomes
into a stored per-model (n_battles, n_wins) table — the streaming face
of ``operators/preference.py::win_rates``.

Counts are plain sums, so the maintained table is CELL-IDENTICAL to a
batch aggregate over the whole feed (mergeability), and the derived
win/smoothed rates are therefore bit-identical — leaderboard freshness
costs one bounded aggregate per batch, never a rescan of battle
history.  Bradley-Terry refreshes ride the same table: the matchup
matrix is equally mergeable, but the MM iteration itself is a batch
job over the (small) matrix, so the intended deployment is "stream
maintains counts, a periodic batch job re-solves ratings".

Exactly-once + versioned publication contract is shared with every
maintenance sink (streaming/statefs.py): a replay guard read from the
CURRENT pointer makes foreachBatch replays no-ops, each batch writes an
immutable ``v{batch_id}`` dir behind an atomic CURRENT pointer, and
``keep_versions`` prior versions are retained for in-flight readers.

At 100 TB of battle history the stored table is model-cardinality rows;
each batch does one map-side-combinable aggregate over the batch plus a
model-keyed merge of two small tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from fotmobdatapipeline_spark.operators.preference import (
    side_win_counts,
    with_rates,
)
from fotmobdatapipeline_spark.streaming.statefs import fold_sink, read_state


def read_leaderboard(spark, path: str) -> DataFrame | None:
    """CURRENT version of the stored leaderboard (model, n_battles,
    n_wins, last_batch) with the derived rates attached — the same
    (win_rate, smoothed_rate) expressions as the batch operator, so a
    drained stream reads bit-identically to ``win_rates`` over the
    full history.  None before the first batch commits."""
    t = read_state(spark, path)
    if t is None:
        return None
    return with_rates(t.select("model", "n_battles", "n_wins", "last_batch")).select(
        "model", "n_battles", "n_wins", "win_rate", "smoothed_rate", "last_batch"
    )


def leaderboard_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
    keep_versions: int = 1,
):
    """Maintain per-model battle/win counts as battles stream in: each
    micro-batch aggregates to (model, n_battles, n_wins) increments
    (one explode + one hash aggregate — the batch operator's shape over
    batch-sized input) and folds into the stored table by model-wise
    SUM."""
    # The batch operator's own aggregate — ONE definition of a win.
    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: side_win_counts(b, model_a, model_b, winner),
        keys=["model"],
        values=["n_battles", "n_wins"],
        keep_versions=keep_versions,
    )


def read_win_matrix(spark, path: str, smooth: int = 1) -> DataFrame | None:
    """CURRENT version of the maintained raw matchup counts, rebuilt
    into the smoothed directed matrix btl_ratings consumes — the SAME
    smoothed_matrix_from_pairs the batch path runs, so ratings solved
    from a drained stream are bit-identical to the batch solve.  None
    before the first batch commits."""
    from fotmobdatapipeline_spark.operators.preference import (
        smoothed_matrix_from_pairs,
    )

    t = read_state(spark, path)
    if t is None:
        return None
    return smoothed_matrix_from_pairs(t.select("m1", "m2", "w1", "w2"), smooth)


def win_matrix_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    model_a: str = "model_a",
    model_b: str = "model_b",
    winner: str = "winner",
    keep_versions: int = 1,
):
    """The other half of the 'stream maintains counts, a periodic batch
    job re-solves ratings' deployment: maintain the matchup-cardinality
    raw pair counts (m1, m2, w1, w2) as battles stream in — each
    micro-batch's raw_pair_counts (the batch operator's own aggregate)
    folds by (m1, m2)-wise SUM, so the maintained matrix is
    CELL-IDENTICAL to a batch build over the whole history and
    btl_ratings(read_win_matrix(...)) is bit-identical to the batch
    solve."""
    from fotmobdatapipeline_spark.operators.preference import raw_pair_counts

    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: raw_pair_counts(b, model_a, model_b, winner),
        keys=["m1", "m2"],
        values=["w1", "w2"],
        keep_versions=keep_versions,
    )
