"""``fotmobdatapipeline_spark.lineage``: one way to share a frame and to
truncate lineage, with storage picked from the session's checkpoint
directory, and the per-application memo of shared frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fotmobdatapipeline_spark import lineage
from fotmobdatapipeline_spark.lineage import share, shared_frame, truncate


def _noisy(spark):
    """4 partitions of ids with a nondeterministic Python UDF column:
    every evaluation of the lineage draws new values."""
    import random

    draw = F.udf(lambda _: random.randrange(1 << 30), "long").asNondeterministic()
    return spark.range(0, 2000, 1, 4).withColumn("r", draw("id"))


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_share_gives_both_readers_of_one_query_the_same_rows(spark, request, mode):
    """One query reads a shared nondeterministic frame twice: as the
    broadcast side of a join (its own job, run first) and as the main
    scan.  Both reads must see the same rows.  A lazy reliable
    checkpoint fails this: its write recomputes the frame after the
    broadcast side has already read it."""
    if mode == "reliable":
        request.getfixturevalue("checkpoint_dir")
    x = share(_noisy(spark))
    other = F.broadcast(x.select("id", F.col("r").alias("r2")))
    got = (
        x.join(other, "id")
        .agg(F.count("*").alias("n"), F.sum((F.col("r") != F.col("r2")).cast("int")).alias("bad"))
        .first()
    )
    assert (got["n"], got["bad"]) == (2000, 0)


def _checkpoint_rdds(df):
    lineage_text = df.rdd.toDebugString().decode()
    return {
        name for name in ("LocalCheckpointRDD", "ReliableCheckpointRDD")
        if name in lineage_text
    }


@pytest.mark.parametrize("verb", [share, truncate])
def test_checkpoint_dir_picks_the_storage(spark, request, verb):
    """No checkpoint directory (the default): a local checkpoint.  With
    one set: a reliable checkpoint, written there at call time."""
    assert spark.sparkContext.getCheckpointDir() is None
    local = verb(spark.range(0, 100, 1, 2))
    assert local.count() == 100
    assert _checkpoint_rdds(local) == {"LocalCheckpointRDD"}

    ckpt = request.getfixturevalue("checkpoint_dir")
    reliable = verb(spark.range(0, 100, 1, 2))
    assert list(ckpt.rglob("part-*")), "nothing written at call time"
    assert _checkpoint_rdds(reliable) == {"ReliableCheckpointRDD"}
    assert reliable.agg(F.sum("id")).first()[0] == 4950


def test_shared_frame_builds_once_per_application(spark):
    """``shared_frame`` calls ``build`` once per (application, key) and
    drops entries left by other applications, whose blocks died with
    their executors."""
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    key = ("test_lineage", object())
    lineage._FRAMES[("dead-app", key)] = "stale"
    first = shared_frame(spark, key, build)
    assert shared_frame(spark, key, build) is first
    assert len(calls) == 1
    assert ("dead-app", key) not in lineage._FRAMES
    other = shared_frame(spark, ("test_lineage", "other"), lambda: spark.range(1))
    assert other is not first
