"""The versioned-state protocol of the streaming maintenance sinks,
and the warehouse-scheme-aware state I/O under it.

Protocol (``fold_sink`` / ``read_state``): each micro-batch folds its
increment into the stored table and writes the result to a NEW
immutable version directory ``v{batch_id}`` (every row carries
``last_batch = batch_id``), then atomically swings a ``CURRENT``
pointer file to it.  A reader resolves ``CURRENT`` once and reads an
immutable version, so it never sees a half-written table.  The new
version plus ``keep_versions`` prior versions survive each commit;
older ones are garbage-collected.

Exactly-once: ``foreachBatch`` may REPLAY a batch after a failure, and
a replayed sum would double-count.  Because a version is only ever
written as ``v{batch_id}``, the number in the ``CURRENT`` pointer's
name IS the last applied batch id: a batch whose id is not above it is
skipped before any Spark job runs.  State lives in the table, not the
operator.  The fold is correct because the stored summaries are
mergeable: folding a batch's increment into the stored table equals
the summary of the union.

The sinks keep tiny driver-managed state files (the CURRENT pointer,
manifests) beside their parquet version dirs.  They go through the
Hadoop FileSystem API (the ``operators/merge.py`` precedent), so
``hdfs://``, ``s3a://``, ``gs://``, ``abfss://`` and plain local paths
all resolve with the warehouse's own configuration.

Pointer-swap atomicity by scheme:

* **Object stores** (s3a/gs/abfs/...): the pointer is written with a
  direct ``create(overwrite=True)`` — one PUT, which object stores
  commit atomically; a rename would be a non-atomic copy+delete there.
* **POSIX-like** (file/hdfs/viewfs): write ``CURRENT.tmp`` then rename
  over the destination via ``FileContext.rename(Rename.OVERWRITE)``
  (atomic on HDFS and local).  If the FileContext route is unavailable
  the fallback is delete+rename, which leaves a reader-visible gap of
  one syscall — readers treat a missing CURRENT as "no state yet" and
  the single-writer sink itself is unaffected.

Version dirs themselves are written by Spark's parquet committer
(already scheme-aware); only the tiny pointer/manifest/listing/GC
operations needed porting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OBJECT_STORE_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos",
}


class StateFs:
    """Thin py4j wrapper over the Hadoop FileSystem for one state dir."""

    def __init__(self, spark, base: str):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._conf = sc._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self.base = base
        self._fs = self._Path(base).getFileSystem(self._conf)

    def _p(self, *names: str):
        return self._Path("/".join([self.base, *names]) if names else self.base)

    def mkdirs(self) -> None:
        self._fs.mkdirs(self._p())

    def exists(self, name: str) -> bool:
        return self._fs.exists(self._p(name))

    def is_dir(self, name: str) -> bool:
        p = self._p(name)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()

    def read_text(self, name: str) -> str | None:
        """Full text of a small state file (pointer/manifest), or None
        if absent."""
        p = self._p(name)
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "UTF-8")
            )
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()

    def _create_write(self, path, text: str) -> None:
        out = self._fs.create(path, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def write_text_atomic(self, name: str, text: str) -> None:
        """Publish a small state file so readers see old-or-new, never
        half-written (see module docstring for the per-scheme route)."""
        dst = self._p(name)
        scheme = dst.toUri().getScheme() or self._fs.getScheme()
        if scheme in _OBJECT_STORE_SCHEMES:
            self._create_write(dst, text)  # single PUT: atomic swap
            return
        tmp = self._p(name + ".tmp")
        self._create_write(tmp, text)
        if not self._rename_overwrite(tmp, dst):
            # Fallback: one-syscall visibility gap, documented above.
            self._fs.delete(dst, False)
            if not self._fs.rename(tmp, dst):
                raise IOError(f"cannot publish {dst}")

    def _rename_overwrite(self, src, dst) -> bool:
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dst.toUri(), self._conf
            )
            rename_cls = getattr(self._jvm, "org.apache.hadoop.fs.Options$Rename")
            opts = self._gateway.new_array(rename_cls, 1)
            opts[0] = rename_cls.OVERWRITE
            fc.rename(src, dst, opts)
            return True
        except Exception:
            return False

    def listdir(self, dirs_only: bool = False) -> list[str]:
        p = self._p()
        if not self._fs.exists(p):
            return []
        out = []
        for status in self._fs.listStatus(p):
            if dirs_only and not status.isDirectory():
                continue
            out.append(status.getPath().getName())
        return out

    def delete(self, name: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(name), recursive)


def _current(sfs: StateFs) -> str | None:
    """Name of the CURRENT version (``v{batch_id}``), or None before
    the first commit."""
    txt = sfs.read_text("CURRENT")
    return txt.strip() if txt else None


def read_state(spark, path: str) -> DataFrame | None:
    """The CURRENT version of a versioned state table, or None before
    the first commit.  Versions are immutable once pointed at, so no
    listing-cache race is possible."""
    v = _current(StateFs(spark, path))
    return None if v is None else spark.read.parquet(f"{path}/{v}")


def fold_batch(
    path: str,
    increment,
    keys: list[str],
    values: list[str],
    merge=F.sum,
    keep_versions: int = 1,
):
    """The ``foreachBatch`` body of :func:`fold_sink`: a function of
    ``(batch_df, batch_id)`` that folds ``increment(batch_df)`` into
    the stored table and publishes it as ``v{batch_id}``.

    The fold groups the stored and the new rows by ``keys`` (an empty
    list is one global row) and combines each of ``values`` with
    ``merge`` (``F.sum`` by default), cast back to the increment's own
    type.  The first batch stores the increment as it is.  A batch
    whose id is not above the CURRENT version's is a replay and
    returns before running any Spark job."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sfs = StateFs(spark, path)
        cur = _current(sfs)
        if cur is not None and batch_id <= int(cur[1:]):
            return  # replay of an already-applied batch: no-op
        inc = increment(batch_df)
        if cur is None:
            merged = inc
        else:
            merged = (
                spark.read.parquet(f"{path}/{cur}")
                .select(*keys, *values)
                .unionByName(inc)
                .groupBy(*keys)
                .agg(*[merge(c).cast(inc.schema[c].dataType).alias(c) for c in values])
            )
        new_v = f"v{batch_id}"
        out = merged.withColumn("last_batch", F.lit(batch_id)).coalesce(1)
        out.write.mode("overwrite").parquet(f"{path}/{new_v}")
        sfs.write_text_atomic("CURRENT", new_v)
        priors = sorted(
            (d for d in sfs.listdir(dirs_only=True) if d.startswith("v") and d != new_v),
            key=lambda d: int(d[1:]),
            reverse=True,
        )
        for d in priors[keep_versions:]:
            sfs.delete(d, recursive=True)

    return apply_batch


def fold_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    increment,
    keys: list[str],
    values: list[str],
    merge=F.sum,
    keep_versions: int = 1,
):
    """Start a stream that folds each micro-batch into the versioned
    state table at ``path`` (see :func:`fold_batch` and the module
    docstring).  ``path`` may be any warehouse URI the cluster's Hadoop
    configuration resolves."""
    StateFs(stream.sparkSession, path).mkdirs()
    return (
        stream.writeStream.foreachBatch(
            fold_batch(path, increment, keys, values, merge, keep_versions)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
