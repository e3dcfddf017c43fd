"""Streaming perceptual-hash index: fold each micro-batch of documents
into a stored per-dHash (n_docs) table — the streaming face of the
``multimodal_image_dhash`` cluster report.

Counts are plain sums, so the maintained table is CELL-IDENTICAL to a
batch aggregate over the whole feed (mergeability): an arriving image
whose fingerprint already has members is a perceptual duplicate, and
membership freshness costs one bounded aggregate per micro-batch —
never a rescan of image history.  Hamming-tolerant matching composes
downstream exactly as in batch (banded equi-join on the stored table's
hash quarters).

Exactly-once + versioned publication contract is shared with every
maintenance sink (streaming/statefs.py): a replay guard read from the
CURRENT pointer makes foreachBatch replays no-ops, each batch writes an
immutable ``v{batch_id}`` dir behind an atomic CURRENT pointer.

At 100 TB of image history the stored table is distinct-fingerprint
cardinality; each micro-batch does the batch tier's own map-only
encode+hash Arrow stages over batch-sized input plus one hash-keyed
merge of two tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.streaming.statefs import fold_sink, read_state


def _dhash_counts(batch_docs: DataFrame, width: int, height: int) -> DataFrame:
    """The batch tier's own encode -> decode-hash -> count pipeline —
    ONE definition of the fingerprint (multimodal_image_dhash's shape)."""
    from fotmobdatapipeline_spark.multimodal import (
        attach_binary_payload,
        encode_media_as_png,
        extract_png_dhash,
    )

    png = encode_media_as_png(attach_binary_payload(batch_docs), width, height)
    return (
        extract_png_dhash(png)
        .groupBy("dhash_hi", "dhash_lo")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def read_dhash_clusters(spark, path: str) -> DataFrame | None:
    """CURRENT version of the stored fingerprint table
    (dhash_hi, dhash_lo, n_docs, last_batch).  None before the first
    batch commits.  A drained stream reads cell-identically to the
    batch groupBy over the full document feed (pinned in
    tests/test_multimodal.py)."""
    t = read_state(spark, path)
    if t is None:
        return None
    return t.select("dhash_hi", "dhash_lo", "n_docs", "last_batch")


def dhash_cluster_maintenance_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    width: int = 8,
    height: int = 4,
    keep_versions: int = 1,
):
    """Maintain per-fingerprint document counts as documents stream in:
    each micro-batch runs the batch tier's map-only encode+hash stages
    and one hash aggregate over BATCH-sized input, then folds into the
    stored table by fingerprint-wise SUM."""
    return fold_sink(
        stream,
        path,
        checkpoint,
        lambda b: _dhash_counts(b, width, height),
        keys=["dhash_hi", "dhash_lo"],
        values=["n_docs"],
        keep_versions=keep_versions,
    )
