"""Structured Streaming operators over the events table.

The reference is pure batch (`@once`, fotmob-dag.py:188) but names
scheduled incremental processing as its next step (README.md:158); this
module is that step done Spark-natively: the SAME column logic as the
batch queries in plans/events.py, lifted onto an unbounded stream with
watermarks for late data.

Scale notes:
* Windowed aggregations keep state per (window, key); the watermark
  bounds state size — without it a 100 TB stream accretes state forever.
* ``session_window`` is Spark's native gap-session operator (merges
  windows within the gap); state per active session.
* ``running_user_counts`` shows the arbitrary-stateful path
  (``applyInPandasWithState``) for operators windows can't express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fotmobdatapipeline_spark.streaming.statefs import fold_sink, read_state

# Physical schema of events.parquet when ts is TIMESTAMP(NANOS): the
# file-stream source must read ts as long (nanosAsLong) and convert.
# Generator versions that write TIMESTAMP(MICROS) read natively; the
# stream probes the directory's actual footer schema (see
# read_events_stream) instead of assuming either.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over an events directory (new files appear as
    micro-batches; at scale this would be Kafka — same downstream code).

    Session-level side effect: ``nanosAsLong`` must stay set for the
    stream's whole lifetime (the conf is read at every micro-batch plan,
    not just here), so it cannot be save/restored around this call.  It
    is set only if unset/false, and batch readers in this package go
    through ``sources.registry.read_table``, which sets the same value —
    the one observable change is to a *foreign* batch read of
    TIMESTAMP(NANOS) parquet in the same session, which would otherwise
    throw PARQUET_TYPE_ILLEGAL."""
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # One driver-side batch probe of the footer schema decides whether
    # this directory's ts is raw nanos (needs conversion) or a native
    # timestamp (pass through) — streams can't infer schema themselves.
    # An empty / not-yet-populated directory can't be probed (batch read
    # raises UNABLE_TO_INFER_SCHEMA); fall back to the raw-nanos schema
    # so the start-stream-then-stage-files pattern keeps working.
    try:
        probe_schema = spark.read.parquet(path).schema
    except Exception:
        probe_schema = EVENTS_RAW_SCHEMA
    ts_is_nanos = dict(
        (f.name, f.dataType.simpleString()) for f in probe_schema.fields
    ).get("ts") == "bigint"
    raw = (
        spark.readStream.schema(probe_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    if not ts_is_nanos:
        # NTZ -> session-zone timestamp (UTC-pinned): keeps every
        # downstream watermark/window expression type-stable.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding windowed counts + value sums per event type.
    Works identically on batch and streaming frames (the batch twin is
    plans/events.py::events_tumbling_hour)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return events.groupBy(win.alias("w"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native gap-based session windows per user (Spark merges windows
    closer than ``gap``).  Streaming state is one row per open session."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def interval_join_stream(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "view",
    window_seconds: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each left event paired with same-user
    right events in the trailing ``window_seconds`` — the streaming twin
    of plans/advanced.py::events_interval_join (same µs semantics).

    Both sides carry watermarks and the join condition bounds event time
    on both ends, so Spark can expire join state: a right row is held
    only until the watermark passes ``b_ts + window`` — bounded state on
    an unbounded stream.  Batch frames take the same code path (minus
    watermarks), so the oracle-checked batch query validates this logic.
    """
    a = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
    )
    b = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    if events.isStreaming:
        a = a.withWatermark("a_ts", watermark)
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("b_ts") <= F.col("a_ts"))
    )
    return a.join(b, cond).select(
        F.col("a_user").alias("user"),
        "a_id",
        "b_id",
        (F.unix_micros("a_ts") - F.unix_micros("b_ts")).alias("gap_us"),
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    repair layer for at-least-once sources (replayed Kafka offsets,
    re-delivered files).  State holds one entry per key and is expired by
    the watermark, so memory is bounded; a batch frame degrades to plain
    ``dropDuplicates`` (exact, unbounded horizon)."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


_STATE_SCHEMA = StructType([StructField("count", LongType())])
_OUT_SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("n_events", LongType())]
)


def running_user_counts(events: DataFrame, timeout_minutes: int | None = None) -> DataFrame:
    """Arbitrary stateful processing: a per-user running event counter
    via ``applyInPandasWithState`` — the template for custom operators
    (fraud counters, CDC merge, feature windows) that windowed aggs
    can't express.  Emits the updated total per user per micro-batch."""
    import pandas as pd  # noqa: F401 (worker-side)

    def update(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_HOLT_OUT = (
    "user_id long, holt_level double, holt_trend double, "
    "forecast_next double, n_seen long"
)
_HOLT_STATE = "l double, t double, started boolean, n long"


def holt_state_stream(events: DataFrame) -> DataFrame:
    """Per-user Holt linear-trend smoothing (alpha = beta = 0.5) as
    UNBOUNDED running state — the streaming twin of the batch
    ``events_holt_forecast`` entry.  The batch form folds the whole
    per-user history (state O(history)); here state is just (level,
    trend): O(users), constant per event — the shape that survives an
    unbounded feed.

    Exactness contract: the fold is order-sensitive, so events must
    arrive per-key in event order ACROSS micro-batches (a file source
    fed files in event order satisfies this); within a batch rows are
    sorted by event_id.  Under that contract the per-batch partial
    folds compose into arithmetic identical to the batch fold, so the
    final emitted (level, trend, forecast) equals the batch entry
    bit-for-bit — pinned in tests/test_streaming.py."""

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            lvl, trd, started, n = state.get
        else:
            lvl, trd, started, n = 0.0, 0.0, False, 0
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values("event_id")
            for v in batch["value"]:
                v = float(v)
                if not started:
                    lvl, trd, started = v, 0.0, True
                else:
                    lnew = (v + lvl + trd) * 0.5
                    trd = (lnew - lvl + trd) * 0.5
                    lvl = lnew
                n += 1
        state.update((lvl, trd, started, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "holt_level": [lvl],
                "holt_trend": [trd],
                "forecast_next": [lvl + trd],
                "n_seen": [n],
            }
        )

    return events.select("event_id", "user_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=_HOLT_OUT,
        stateStructType=_HOLT_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --------------------------------------------------------------------------
# State-store scale path: RocksDB provider.
# --------------------------------------------------------------------------
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

from contextlib import contextmanager  # noqa: E402


@contextmanager
def rocksdb_state(spark: SparkSession, changelog_checkpointing: bool = True):
    """Run streaming queries with the RocksDB state store provider.

    The default HDFS-backed provider keeps every state key on the JVM
    heap — at 100 TB stream scale (billions of live sessions / dedup
    keys) that is an executor OOM, and full-snapshot checkpoints grow
    with TOTAL state size.  RocksDB keeps state off-heap with disk
    spill, and changelog checkpointing uploads only the per-batch DELTA,
    so commit latency tracks batch size, not accumulated state.

    Provider choice is per-query-START session conf, so this context
    manager sets it, yields, and restores — queries started inside run
    on RocksDB for their lifetime.
    """
    keys = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": str(
            changelog_checkpointing
        ).lower(),
    }
    prev: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


# --------------------------------------------------------------------------
# transformWithState (Spark 4): the successor stateful API.
# --------------------------------------------------------------------------
def running_user_counts_tws(events: DataFrame) -> DataFrame:
    """The same per-user running counter as :func:`running_user_counts`,
    on Spark 4's ``transformWithStateInPandas`` — the successor API with
    composable typed state (value/list/map), timers, and TTL.  Requires
    the RocksDB state store provider (use :func:`rocksdb_state`) AND the
    ``protobuf`` Python package (the state-server protocol; present on
    real clusters, absent in this container, so the test gates on it).
    The processor class ships with the package zip so external drivers
    can unpickle it on workers.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from fotmobdatapipeline_spark.session import ship_package

    ship_package(events.sparkSession)

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            total = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self._count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def running_user_counts_stateful(events: DataFrame) -> DataFrame:
    """Dispatcher for the per-user running counter: the
    ``transformWithStateInPandas`` successor API when its protobuf
    state-server protocol is importable, else the semantically identical
    ``applyInPandasWithState`` processor.  Exists so the stateful
    contract test executes in EVERY environment (no environment-gated
    skip): protobuf-equipped clusters exercise the successor API, bare
    containers still prove the same update-mode counter semantics."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return running_user_counts(events)
    return running_user_counts_tws(events)


def enrich_with_dim(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream against a slowly-changing
    dimension snapshot.  The static side is re-read per micro-batch (so
    dim updates are picked up between batches) and broadcast when small
    — no state, no watermark needed; this is the streaming twin of the
    star build's fact-dim lookups."""
    return events.join(F.broadcast(dim), on, "left")


def anomaly_flag_stream(
    events: DataFrame,
    baseline: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    k_mad: int = 3,
) -> DataFrame:
    """Streaming event-rate anomaly flags against a BATCH-TRAINED
    baseline — the production split for robust statistics: the exact
    lower-median/MAD rule needs two global passes and cannot stream, so
    the batch op (plans/events.py::events_anomaly_mad) trains the
    per-type ``(event_type, med, mad)`` baseline on history, and the
    stream pays only a broadcast stream-static join plus one combinable
    windowed count.  The baseline joins BEFORE the aggregate (med/mad
    ride along as constant-per-type grouping keys), so the plan stays a
    plain watermarked window aggregate — no post-aggregation join, valid
    in every output mode.

    An event_type ABSENT from the trained baseline (null med/mad after
    the left join) is the classic anomaly this monitor exists for — a
    brand-new producer type — so it is flagged ``is_anomaly = true``
    (never silently null, ADVICE r5): any unseen type deviates from a
    baseline that predicted zero of it.  Consumers who want to route
    novel types separately from rate spikes can test ``med IS NULL``.

    Works identically on a batch frame (the twin the contract test
    pins).  Output: (window_start, event_type, n_events, med, mad,
    is_anomaly)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    enriched = events.join(F.broadcast(baseline), "event_type", "left")
    counts = enriched.groupBy(
        F.window("ts", window).alias("w"), "event_type", "med", "mad"
    ).agg(F.count("*").alias("n_events"))
    return counts.select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "med",
        "mad",
        F.coalesce(
            F.abs(F.col("n_events") - F.col("med")) > k_mad * F.col("mad"),
            F.lit(True),
        ).alias("is_anomaly"),
    )


def interval_left_join_stream(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "view",
    window_seconds: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every left event emitted,
    matched rows as they pair, UNMATCHED lefts with null right columns
    once the watermark proves no match can still arrive (b_ts bound +
    watermark = the expiry proof Spark requires for outer stream-stream
    joins).  The purchase-attribution shape: "which purchases had NO
    preceding view within 10 minutes".

    Caveat a batch twin can't have: an unmatched left parks in state
    until the watermark passes ``a_ts + window``; if the stream simply
    ends, the watermark stops advancing and trailing unmatched rows stay
    unemitted (they are not lost — they emit on the next arriving
    batch).  The contract test advances the watermark past the feed with
    one far-future sentinel event and then matches the batch left join
    exactly.  Batch frames take the same code path (minus watermarks),
    where the caveat vanishes.
    """
    a = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
    )
    b = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    if events.isStreaming:
        a = a.withWatermark("a_ts", watermark)
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("b_ts") <= F.col("a_ts"))
    )
    return a.join(b, cond, "left_outer").select(
        F.col("a_user").alias("user"),
        "a_id",
        "b_id",
        F.when(
            F.col("b_id").isNotNull(),
            F.unix_micros("a_ts") - F.unix_micros("b_ts"),
        ).alias("gap_us"),
    )


def interval_full_join_stream(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "view",
    window_seconds: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the outer-join
    matrix next to the inner and left forms above: matched pairs as they
    arrive, unmatched PURCHASES with null view columns, and unmatched
    VIEWS with null purchase columns, each emitted once the watermark
    proves finality on its side (Spark requires watermarks on both
    inputs plus the two-sided time bound for full-outer state expiry —
    both hold here, so state stays bounded on an unbounded feed).

    The "coverage audit" shape: one query yields conversion gaps AND
    orphaned views AND unattributed purchases.  Same end-of-feed caveat
    as the left form (trailing unmatched rows emit only when a later
    event advances the watermark); batch frames take the identical code
    path minus watermarks, which is what the contract test compares.
    """
    a = events.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
    )
    b = events.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    if events.isStreaming:
        a = a.withWatermark("a_ts", watermark)
        b = b.withWatermark("b_ts", watermark)
    cond = (
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"))
        & (F.col("b_ts") <= F.col("a_ts"))
    )
    return a.join(b, cond, "full_outer").select(
        F.coalesce(F.col("a_user"), F.col("b_user")).alias("user"),
        "a_id",
        "b_id",
        F.when(
            F.col("a_id").isNotNull() & F.col("b_id").isNotNull(),
            F.unix_micros("a_ts") - F.unix_micros("b_ts"),
        ).alias("gap_us"),
    )


def type_mix_maintenance_sink(
    events: DataFrame,
    path: str,
    checkpoint: str,
    type_col: str = "event_type",
    keep_versions: int = 1,
):
    """Streaming face of the drift monitor (plans/events.py::
    drift_event_type_shares): maintain cumulative per-type event counts
    over an unbounded feed, so "today's mix vs the pinned baseline" is
    answerable at any moment without rescanning history.  Counts are
    exact mergeable integers (the CMS-sink shape with the sketch
    replaced by the true per-type tally — type cardinality is tiny, so
    exactness is free); replay-idempotent and versioned behind an
    atomic CURRENT pointer like every maintenance sink
    (streaming/statefs.py — local or any warehouse URI).

    Each batch: one combinable groupBy of the micro-batch + a
    type-keyed merge of two #types-row tables."""
    return fold_sink(
        events,
        path,
        checkpoint,
        lambda b: b.groupBy(F.col(type_col).alias("event_type")).agg(
            F.count("*").alias("n")
        ),
        keys=["event_type"],
        values=["n"],
        keep_versions=keep_versions,
    )


def read_type_mix_drift(spark, path: str, baseline: DataFrame) -> DataFrame | None:
    """Drift report from the maintained state: shares and deltas per
    event type vs a (event_type, n_base) baseline frame — the same
    exact-integer-division columns as the batch drift entry, derived
    from stored counts (the feed is never rescanned).  None before the
    first commit."""
    t = read_state(spark, path)
    if t is None:
        return None
    cur = t.select("event_type", F.col("n").alias("n_cur"))
    tot_c = cur.agg(F.sum("n_cur").alias("tc"))
    tot_b = baseline.agg(F.sum("n_base").alias("tb"))
    joined = (
        cur.join(baseline, "event_type", "full_outer")
        .crossJoin(F.broadcast(tot_c))
        .crossJoin(F.broadcast(tot_b))
    )
    share_base = F.coalesce("n_base", F.lit(0)).cast("double") / F.col("tb").cast(
        "double"
    )
    share_cur = F.coalesce("n_cur", F.lit(0)).cast("double") / F.col("tc").cast(
        "double"
    )
    return joined.select(
        "event_type",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        share_base.alias("share_base"),
        share_cur.alias("share_cur"),
        (share_cur - share_base).alias("share_delta"),
    )


def hourly_cents_maintenance_sink(
    events: DataFrame,
    path: str,
    checkpoint: str,
    keep_versions: int = 1,
):
    """Streaming face of the CUSUM drift detector: maintain the
    (event_type, ho, cents) hourly table as events stream in — each
    micro-batch's hourly collapse (operators/timeseries.py::
    hourly_cents, the SAME aggregate the batch entry runs) folds into
    the stored table by (type, hour)-wise SUM.  Cents are exact
    integers, so the maintained table is CELL-IDENTICAL to a batch
    build over the whole feed, and a CUSUM report read from it
    (``read_cusum_report`` -> the shared ``cusum_hourly_report`` fold)
    is bit-identical to the batch entry.  Exactly-once + versioned
    publication contract of every maintenance sink
    (streaming/statefs.py)."""
    from fotmobdatapipeline_spark.operators.timeseries import hourly_cents

    return fold_sink(
        events,
        path,
        checkpoint,
        hourly_cents,
        keys=["event_type", "ho"],
        values=["cents"],
        keep_versions=keep_versions,
    )


def read_cusum_report(spark, path: str) -> DataFrame | None:
    """CUSUM drift report over the maintained hourly table — the
    identical shared fold the batch entry runs, so a drained stream
    reads bit-identically to events_cusum_hourly over the full feed.
    None before the first batch commits."""
    from fotmobdatapipeline_spark.operators.timeseries import cusum_hourly_report

    t = read_state(spark, path)
    if t is None:
        return None
    return cusum_hourly_report(t.select("event_type", "ho", "cents"))


def read_holt_winters_report(spark, path: str) -> DataFrame | None:
    """Holt-Winters seasonal forecast over the SAME maintained
    hourly-cents table the CUSUM readout uses — one stored state, two
    always-on monitors; the shared fold makes a drained stream read
    bit-identically to events_holt_winters_hourly over the full feed.
    None before the first batch commits."""
    from fotmobdatapipeline_spark.operators.timeseries import (
        holt_winters_hourly_report,
    )

    t = read_state(spark, path)
    if t is None:
        return None
    return holt_winters_hourly_report(t.select("event_type", "ho", "cents"))
