"""StateFs (streaming/statefs.py): the Hadoop-FileSystem-backed state
I/O the maintenance sinks use for CURRENT pointers and manifests.
These tests run against the local filesystem through the SAME Hadoop
API path a cluster would use for hdfs:// (LocalFileSystem implements
the identical interface), so the pointer-swap, listing, and delete
semantics are exercised for real — only the scheme differs."""

from __future__ import annotations

import os
from contextlib import contextmanager


def _fs(spark, tmp_path):
    from fotmobdatapipeline_spark.streaming.statefs import StateFs

    base = str(tmp_path / "state")
    sfs = StateFs(spark, base)
    sfs.mkdirs()
    return sfs, base


def test_pointer_roundtrip_and_overwrite(spark, tmp_path):
    sfs, base = _fs(spark, tmp_path)
    assert sfs.read_text("CURRENT") is None
    sfs.write_text_atomic("CURRENT", "v0")
    assert sfs.read_text("CURRENT") == "v0"
    # Overwrite (the swap case): readers must see old-or-new, and the
    # temp file must not survive a successful publish.
    sfs.write_text_atomic("CURRENT", "m3c\n#applied d0\n#applied d1")
    assert sfs.read_text("CURRENT") == "m3c\n#applied d0\n#applied d1"
    assert not os.path.exists(os.path.join(base, "CURRENT.tmp"))


def test_listdir_dirs_only_and_delete(spark, tmp_path):
    sfs, base = _fs(spark, tmp_path)
    sfs.write_text_atomic("m0", "d0")
    os.makedirs(os.path.join(base, "v0"))
    os.makedirs(os.path.join(base, "v1"))
    names = set(sfs.listdir())
    assert {"m0", "v0", "v1"} <= names
    assert set(sfs.listdir(dirs_only=True)) >= {"v0", "v1"}
    assert "m0" not in sfs.listdir(dirs_only=True)
    assert sfs.is_dir("v0") and not sfs.is_dir("m0")
    sfs.delete("v1", recursive=True)
    assert not sfs.exists("v1")
    sfs.delete("m0")
    assert not sfs.exists("m0")


def _counts(batch):
    from pyspark.sql import functions as F

    return batch.groupBy("k").agg(F.count("*").alias("n"))


def _batch(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def test_publish_version_retention(spark, tmp_path):
    """Each fold publishes ``v{batch_id}`` behind CURRENT and keeps new +
    keep_versions priors, GCing the rest — the sinks' shared publish
    path, driven directly on static frames."""
    from fotmobdatapipeline_spark.streaming.statefs import StateFs, fold_batch

    base = str(tmp_path / "state")
    apply = fold_batch(base, _counts, ["k"], ["n"], keep_versions=1)
    for b in range(4):
        apply(_batch(spark, ["a", "b"][: b % 2 + 1]), b)
    assert StateFs(spark, base).read_text("CURRENT") == "v3"
    dirs = sorted(d for d in os.listdir(base) if d.startswith("v"))
    assert dirs == ["v2", "v3"], dirs


@contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _snapshot(base):
    """Every file under the state dir with its bytes."""
    out = {}
    for root, _, files in os.walk(base):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


def test_fold_replay_is_a_pointer_read_with_no_spark_job(spark, tmp_path):
    """The replay guard reads the batch id from the CURRENT pointer's
    name: replaying batches 1 and 0 after both committed leaves CURRENT
    at v1, every stored byte unchanged, no new version dir, and runs no
    Spark job (a guard that aggregates ``last_batch`` runs one per
    replay)."""
    import time

    from fotmobdatapipeline_spark.streaming.statefs import (
        StateFs,
        fold_batch,
        read_state,
    )

    base = str(tmp_path / "state")
    apply = fold_batch(base, _counts, ["k"], ["n"])
    b0, b1 = _batch(spark, ["a", "b", "a"]), _batch(spark, ["b", "c"])
    apply(b0, 0)
    apply(b1, 1)
    before = _snapshot(base)
    rows = sorted(map(tuple, read_state(spark, base).collect()))
    assert rows == [("a", 2, 1), ("b", 2, 1), ("c", 1, 1)]

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "statefs-replay-test"
    with _job_group(sc, group):
        apply(b1, 1)
        apply(b0, 0)
    # The status store is fed asynchronously, in job order: once a later
    # sentinel job shows up, any replay job would have been recorded.
    with _job_group(sc, group + "-sentinel"):
        spark.range(1).count()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never recorded"
        time.sleep(0.1)
    assert list(tracker.getJobIdsForGroup(group)) == []

    assert StateFs(spark, base).read_text("CURRENT") == "v1"
    assert _snapshot(base) == before
    assert sorted(map(tuple, read_state(spark, base).collect())) == rows


def test_read_state_before_first_commit_is_none(spark, tmp_path):
    from fotmobdatapipeline_spark.streaming.statefs import read_state

    assert read_state(spark, str(tmp_path / "never_written")) is None


def test_interop_with_plain_local_writes(spark, tmp_path):
    """A pointer written by plain open() (pre-r7 layouts, tests) must
    read back through the Hadoop path, and vice versa — on-disk format
    is unchanged by the FS port."""
    sfs, base = _fs(spark, tmp_path)
    with open(os.path.join(base, "CURRENT"), "w") as f:
        f.write("v7")
    assert sfs.read_text("CURRENT") == "v7"
    sfs.write_text_atomic("POINTER2", "v8")
    with open(os.path.join(base, "POINTER2")) as f:
        assert f.read() == "v8"
