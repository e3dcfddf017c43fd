"""Incremental sketch maintenance over a stream: keep a count-min
sketch, HLL registers, the DSIR model counts or the quality-probe Gram
row of an unbounded feed up to date per micro-batch, so "how often has
this key been seen, ever" is answerable at any moment without
rescanning history — the streaming face of the mergeable-sketch family
(``operators/sketches.py``; mergeability is what makes per-batch
increments correct: cell-summing a batch's sketch into the stored one
equals the sketch of the union, pinned as data by ``sketch_cms_merge``).

Every sink here is a :func:`~fotmobdatapipeline_spark.streaming.statefs.fold_sink`:
the exactly-once replay guard, the immutable ``v{batch_id}`` version
dirs behind an atomic CURRENT pointer and the ``keep_versions``
retention live in ``streaming/statefs.py``; read the stored table with
``statefs.read_state``.  With Delta available each sink is a MERGE.

At 100 TB: the stored table is depth*width rows regardless of feed
size; each batch does one bounded-shuffle sketch build plus a
cell-keyed merge of two tiny tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.sketches import count_min_table
from fotmobdatapipeline_spark.streaming.statefs import fold_sink


def cms_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str = "k",
    depth: int = 4,
    width: int = 256,
    keep_versions: int = 1,
):
    """Start a stream that folds each micro-batch into the stored CMS
    idempotently.  Stored schema: (sketch_row, bucket, cnt, last_batch).

    ``path`` may be any warehouse URI the cluster's Hadoop configuration
    resolves (hdfs://, s3a://, local, ...).  ``keep_versions`` = how
    many prior versions survive each commit's GC (default 1)."""
    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: count_min_table(b.select(F.col(key_col)), key_col, depth, width),
        keys=["sketch_row", "bucket"],
        values=["cnt"],
        keep_versions=keep_versions,
    )


def hll_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str = "k",
    m: int = 64,
    keep_versions: int = 1,
):
    """Start a stream that folds each micro-batch's HLL registers into
    the stored register table idempotently — "how many DISTINCT keys
    has this feed ever carried" at any moment, without rescanning
    history.  The merge is the per-register MAX pinned as data by
    ``sketch_hll_merge``; max is idempotent as well as commutative, so
    even a non-detected replay could not corrupt the sketch (the
    batch-id guard still skips it, keeping last_batch truthful).

    Stored schema: (reg_idx, max_rho, last_batch).  At 100 TB the
    stored table is m rows forever; each batch does one bounded
    register build plus a register-keyed merge of two m-row tables.
    Raise ``keep_versions`` for slow readers that may lag several
    commits; at m rows per retained version the cost is nil."""
    from fotmobdatapipeline_spark.operators.sketches import hll_registers

    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: hll_registers(b.select(F.col(key_col)), key_col, m=m),
        keys=["reg_idx"],
        values=["max_rho"],
        merge=F.max,
        keep_versions=keep_versions,
    )


def dsir_model_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    is_target,
    text_col: str = "text",
    buckets: int = 4096,
    keep_versions: int = 1,
):
    """Keep the DSIR importance model fresh as the corpus streams in:
    each micro-batch's hashed-bigram bucket counts (target and raw
    split by ``is_target`` — a Column predicate over the batch rows)
    fold into the stored (bucket, ct, cs) table by bucket-wise SUM.
    Counts are plain sums, so the maintained table is CELL-IDENTICAL to
    a batch build over the whole feed (the mergeability the batch
    operator documents), and the derived ratios/weights are therefore
    bit-identical — model freshness costs one bounded aggregate per
    batch, never a rescan.  Feed ``read_state`` of ``path`` to
    ``operators.selection.dsir_ratio_from_counts`` for scoring."""
    from fotmobdatapipeline_spark.operators.selection import dsir_bucket_counts

    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: dsir_bucket_counts(b, is_target, text_col, buckets),
        keys=["bucket"],
        values=["ct", "cs"],
        keep_versions=keep_versions,
    )


def probe_gram_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    is_positive,
    text_col: str = "text",
    d: int = 8,
    salt: str = "clf",
    keep_versions: int = 1,
):
    """Keep the quality-probe's training state fresh as the corpus
    streams in: each micro-batch's Gram matrix (exact integer
    sum(z z^T), operators/classifier.py) folds into the stored row by
    CELL-WISE SUM — the Gram is a plain sum over rows, so the
    maintained state is cell-identical to a batch build over the whole
    feed, and weights retrained from it (driver-side GD, O(d^2)) are
    therefore BIT-identical to batch training.  Model freshness costs
    one bounded zero-shuffle aggregate per batch, never a rescan.
    Unpack ``read_state`` of ``path`` with
    ``operators.classifier.gram_matrices``."""
    from fotmobdatapipeline_spark.operators.classifier import (
        _gram_cols,
        probe_gram,
    )

    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: probe_gram(b, is_positive, text_col, d, salt),
        keys=[],
        values=[f"g_{j}_{k}" for j, k in _gram_cols(d)],
        keep_versions=keep_versions,
    )
