"""One way to share a frame and one way to truncate lineage.

This module alone picks where shared and truncated frames are kept, from
the session's checkpoint directory (``sparkContext.setCheckpointDir``, a
deployment path):

* none (the default): local checkpoints, in executor-local blocks with
  replication 1, freed when the frame is garbage-collected.  A lost
  executor fails the queries that read its blocks.
* set: reliable checkpoints in that directory, which survive the loss of
  an executor at the cost of one distributed write and read.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession


def share(df: DataFrame) -> DataFrame:
    """``df`` computed once for all of the consumers that read it.

    Lazy with no checkpoint directory: the first action that reads the
    frame stores it.  Under AQE, creating the checkpointed RDD plans the
    frame, which runs the shuffle stages below it now.  Eager with a
    directory: a lazy reliable checkpoint is written by its own job after
    the first action and recomputes the frame, so two readers of a
    nondeterministic frame (a Python UDF column, range boundaries from a
    sampling pass) in one query would see different rows."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=False)
    return df.checkpoint(eager=True)


def truncate(df: DataFrame) -> DataFrame:
    """``df`` computed now, with its lineage cut: the end of one round of
    an iterative operator, so later rounds' plans do not carry it."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


# (applicationId, key) -> frame.  Keyed by applicationId, not id(spark):
# CPython may reuse the id of a stopped session for a new one, which
# would hand the new session a frame whose blocks died with the old
# executors.
_FRAMES: dict = {}
_FRAMES_LOCK = threading.RLock()  # re-entrant: a build may nest another


def shared_frame(
    spark: SparkSession, key: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build()`` returns, built once per application and
    ``key`` for the catalog entries that consume it; ``build`` decides
    how it is kept (usually :func:`share`).  A call under a new
    application drops every other application's frames: their blocks
    died with their executors."""
    app = spark.sparkContext.applicationId
    with _FRAMES_LOCK:
        for stale in [k for k in _FRAMES if k[0] != app]:
            del _FRAMES[stale]
        if (app, key) not in _FRAMES:
            _FRAMES[(app, key)] = build()
        return _FRAMES[(app, key)]
