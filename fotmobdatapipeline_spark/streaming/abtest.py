"""Streaming A/B monitoring: maintain the mSPRT monitor's MERGEABLE
hourly conversion counts as events stream in — the "stream maintains
counts, batch re-derives the statistic" deployment (the CUSUM /
win-matrix doctrine).  Counts are plain integer sums, so the maintained
table is CELL-IDENTICAL to a batch build over the whole feed, and the
always-valid readout derived from it (``read_msprt_report`` -> the
shared ``operators/abtest.msprt_report``) is bit-identical to the batch
entry.  Exactly-once + versioned publication contract of every maintenance
sink (``streaming/statefs.py``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.abtest import (
    msprt_hourly_counts,
    msprt_report,
)
from fotmobdatapipeline_spark.streaming.statefs import fold_sink, read_state


def read_msprt_report(spark, path: str) -> DataFrame | None:
    """The always-valid monitoring readout from the CURRENT maintained
    hourly-counts table — the SAME shared fold/expression tree the
    batch entry runs, so a drained stream reads bit-identically.  None
    before the first batch commits."""
    t = read_state(spark, path)
    if t is None:
        return None
    return msprt_report(t.select("hour", "na", "xa", "nb", "xb"))


def msprt_maintenance_sink(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keep_versions: int = 1,
):
    """Fold each micro-batch's hourly conversion-count increments (the
    batch operator's own aggregate over batch-sized input) into the
    stored table by hour-wise SUM."""
    return fold_sink(
        events,
        path,
        checkpoint,
        msprt_hourly_counts,
        keys=["hour"],
        values=["na", "xa", "nb", "xb"],
        keep_versions=keep_versions,
    )


def read_chi2_report(spark, path: str) -> DataFrame | None:
    """Chi-square independence readout from the CURRENT maintained
    contingency-cell table — the SAME shared expression tree the batch
    entry runs (``operators/abtest.chi2_report``), so a drained stream
    reads bit-identically.  None before the first batch commits."""
    from fotmobdatapipeline_spark.operators.abtest import chi2_report

    t = read_state(spark, path)
    if t is None:
        return None
    return chi2_report(t.select("variant", "event_type", "n"))


def chi2_maintenance_sink(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keep_versions: int = 1,
):
    """Fold each micro-batch's contingency-cell increments (the batch
    operator's own aggregate over batch-sized input) into the stored
    <= 2 x |event types|-row table by cell-wise SUM."""
    from fotmobdatapipeline_spark.operators.abtest import chi2_counts

    return fold_sink(
        events,
        path,
        checkpoint,
        chi2_counts,
        keys=["variant", "event_type"],
        values=["n"],
        keep_versions=keep_versions,
    )


def read_ams_estimate(spark, path: str) -> DataFrame | None:
    """AMS F2 estimate from the CURRENT maintained counters row — the
    SAME shared median-of-squares expression the batch entry runs
    (``operators/sketches.ams_estimate``), so a drained stream reads
    bit-identically to a batch sketch of the whole feed.  None before
    the first batch commits."""
    from fotmobdatapipeline_spark.operators.sketches import AMS_DEPTH, ams_estimate

    t = read_state(spark, path)
    if t is None:
        return None
    return ams_estimate(t.select("sketch", *[f"z{i}" for i in range(AMS_DEPTH)]))


def ams_maintenance_sink(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keep_versions: int = 1,
):
    """Fold each micro-batch's AMS counters (one row, AMS_DEPTH integer
    sums) into the stored sketch by component-wise SUM — counters are
    linear in the input, so the maintained row is CELL-IDENTICAL to a
    batch sketch over everything streamed so far (pinned in
    test_streaming)."""
    from fotmobdatapipeline_spark.operators.sketches import AMS_DEPTH, ams_counters

    return fold_sink(
        events,
        path,
        checkpoint,
        lambda b: ams_counters(b, "user_id"),
        keys=["sketch"],
        values=[f"z{i}" for i in range(AMS_DEPTH)],
        keep_versions=keep_versions,
    )


def bloom_index_sink(
    docs: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str = "text",
    m_bits: int = 8192,
    keep_versions: int = 1,
):
    """Maintain a bloom membership index over a streaming corpus: each
    micro-batch's word table (operators/sketches.bloom_filter_table —
    the batch operator itself) folds into the stored index by bitwise
    OR, which IS the bloom of the union — so the maintained index is
    bit-identical to a batch build over everything streamed (pinned in
    test_streaming).  The decontamination / incremental-dedup probe
    ("might this doc already be in the corpus?") then runs against the
    m/32-row index without touching the corpus."""
    from fotmobdatapipeline_spark.operators.sketches import bloom_filter_table

    return fold_sink(
        docs,
        path,
        checkpoint,
        lambda b: bloom_filter_table(
            b.filter(F.col(key_col).isNotNull()).select(
                F.col(key_col).alias("k")
            ),
            "k",
            m_bits=m_bits,
        ),
        keys=["word_idx"],
        values=["bits"],
        keep_versions=keep_versions,
        merge=F.bit_or,
    )


def read_bloom_index(spark, path: str) -> DataFrame | None:
    """The CURRENT maintained bloom word table (word_idx, bits) — feed
    it to operators/sketches.bloom_probe / bloom_prefilter.  None
    before the first batch commits."""
    t = read_state(spark, path)
    return None if t is None else t.select("word_idx", "bits")
