"""Sink layer — the engine's replacement for the reference's BigQuery
loads (L1, fotmob-dag.py:179-183) and SQL CTAS (Q1, sql:1).

The reference uploads six pandas tables with ``pandas_gbq.to_gbq``
(default errors if the table exists) and rebuilds the reporting table
with ``CREATE OR REPLACE``.  Engine policy (SURVEY.md §4.3-3): all
writes are idempotent ``overwrite`` so reruns converge.

Scale design:
* ``write_parquet(partition_by=...)`` → partition pruning for readers;
  pick low-cardinality columns (date, region), never high-cardinality
  keys (small-files explosion).
* ``write_bucketed`` → pre-shuffled co-location on the join key; two
  tables bucketed on the same key join WITHOUT a shuffle — the 100 TB
  answer to repeated fact⋈fact joins.
* ``create_or_replace_table`` → the Q1 CTAS equivalent in the session
  catalog.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    coalesce: int | None = None,
    cluster_partitions: bool = True,
) -> None:
    """``cluster_partitions`` shuffles rows onto their output partition
    before a partitioned write, so each task writes whole partitions —
    without it every task holds a writer per partition value it sees
    (tasks × partitions small files, and that many open writers at
    100 TB).  One extra shuffle buys a bounded file count."""
    if coalesce:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode)
    if partition_by:
        if cluster_partitions:
            df = df.repartition(*[F.col(c) for c in partition_by])
            writer = df.write.mode(mode)
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def create_or_replace_table(spark: SparkSession, df: DataFrame, name: str) -> None:
    """CREATE OR REPLACE TABLE <name> AS <df> in the session catalog."""
    df.write.mode("overwrite").saveAsTable(name)


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) so
    same-bucketed joins skip the shuffle entirely."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``ceil(rows / target)`` files.  Streaming/incremental sinks accrete
    small files (one+ per micro-batch/task); on an object store every
    file is a listing + open + footer round-trip, and at 100 TB a
    million 1 MB files makes scans metadata-bound.  Periodic compaction
    is the operational fix (what Delta's OPTIMIZE does); staging through
    a scratch dir avoids overwriting the files mid-read.  Returns the
    new file count."""
    import math
    import shutil
    import tempfile

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    staging = tempfile.mkdtemp(prefix="fotmob_compact_")
    try:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
        spark.read.parquet(staging).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n_files


def write_star(tables: dict[str, DataFrame], base_path: str, mode: str = "overwrite") -> dict[str, str]:
    """Write every star-schema table under ``base_path/<name>`` — the
    engine's whole 'load stage'.  Writes run as CONCURRENT Spark jobs
    (thread pool): the tables are independent, the scheduler interleaves
    their tasks, and per-job fixed overhead stops being serialized —
    same pattern a production loader uses for independent sinks.  Each
    pool thread inherits the caller's local properties (job group,
    description, scheduler pool) and tags, so every write job is
    attributed to the caller.

    Tables from :func:`fotmobdatapipeline_spark.fotmob.run_pipeline`
    are filters and projections of two shared frames, the dims frame
    and the keyed frame, whose shuffles and broadcasts already ran in
    ``run_pipeline``.  Each write is one job that reads checkpoint
    blocks: the five dims read the dims frame's, and ``fact_table``
    and ``looker_data`` the keyed frame's, whose join of the shots to
    the broadcast lookups runs once, inside those two writes.  The
    landing zone is not parsed again."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    paths = {name: f"{base_path}/{name}" for name in tables}
    with ThreadPoolExecutor(max_workers=min(4, len(tables) or 1)) as pool:
        futures = [
            pool.submit(
                inheritable_thread_target(df.sparkSession)(write_parquet),
                df,
                paths[name],
                mode,
            )
            for name, df in tables.items()
        ]
        for f in futures:
            f.result()
    return paths


def write_shuffled_shards(
    df,
    path: str,
    key_col: str,
    n_shards: int = 64,
    salt: str = "0",
) -> None:
    """Training-data global shuffle, as a layout: assign each row a
    deterministic shuffle shard (md5-salted key) and write one partition
    directory per shard, rows sorted by the shuffle key inside each
    file.  A training reader that streams shard directories in order
    (or any subset) sees a reproducible pseudo-random permutation —
    with NO driver-side shuffling and no RNG.

    Epoch reshuffles are a new ``salt``, not a new copy of the data
    pipeline; at 100 TB each shard write is an independent task and the
    only movement is one hash repartition.
    """
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.sampling import shuffle_key, shuffle_shard

    key = F.col(key_col)
    (
        df.withColumn("_shard", shuffle_shard(key, n_shards, salt))
        .withColumn("_skey", shuffle_key(key, salt))
        .repartition(n_shards, "_shard")
        .sortWithinPartitions("_shard", "_skey")
        .drop("_skey")
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(path)
    )


def describe_parquet_layout(spark: SparkSession, path: str, small_file_bytes: int = 32 * 1024 * 1024):
    """Layout audit for a parquet dataset — the input to the
    compact-or-not decision (:func:`compact_parquet`), as
    :func:`~fotmobdatapipeline_spark.operators.profiling` is to salting.

    Row counts come from a DISTRIBUTED pass (`input_file_name` groupBy —
    footers are read by executors, never the driver); sizes come from
    the filesystem listing the driver already has.  Returns a one-row
    summary DataFrame: file counts, byte/row spread, small-file count,
    and `needs_compaction` (>50% of files under ``small_file_bytes``).
    """
    import os
    from glob import glob

    from pyspark.sql import functions as F

    sizes = {
        os.path.basename(f): os.path.getsize(f)
        for f in glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"))
        .agg(F.count("*").alias("n_rows"))
    )
    size_df = spark.createDataFrame(
        [(k, v) for k, v in sizes.items()], "file string, n_bytes long"
    )
    joined = per_file.join(F.broadcast(size_df), "file")
    return joined.agg(
        F.count("*").alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_bytes").alias("n_bytes"),
        F.min("n_bytes").alias("min_file_bytes"),
        F.max("n_bytes").alias("max_file_bytes"),
        F.count_if(F.col("n_bytes") < small_file_bytes).alias("n_small_files"),
        (
            (F.count_if(F.col("n_bytes") < small_file_bytes) * 2 > F.count("*"))
            & (F.count("*") > 1)  # one file is already as compact as it gets
        ).alias("needs_compaction"),
    )
