"""Structured Streaming correctness: each streaming operator's final
answer must equal its batch twin on the same data (stream = file source
fed the events parquet, drained with processAllAvailable)."""

from __future__ import annotations

import shutil

import pytest

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMALL}/events.parquet", d / "part-0.parquet")
    return str(d)


@pytest.fixture(scope="module")
def events_batch(spark):
    from fotmobdatapipeline_spark.sources.registry import read_table

    return read_table(spark, SF_SMALL, "events")


def _drain(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_windowed_counts_stream_equals_batch(spark, events_dir, events_batch):
    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        windowed_event_counts,
    )

    stream = read_events_stream(spark, events_dir)
    _drain(windowed_event_counts(stream), "win_counts", "complete")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(events_batch).collect()
    }
    assert got == want
    assert len(want) > 0


def test_session_window_stream_equals_batch(spark, events_dir, events_batch):
    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        session_aggregate,
    )

    stream = read_events_stream(spark, events_dir)
    _drain(session_aggregate(stream), "sessions", "complete")
    got = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    )
    want = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in session_aggregate(events_batch).collect()
    )
    assert got == want
    assert len(want) > 0


def test_session_window_matches_gaps_and_islands(spark, events_batch):
    """Native session_window must agree with the manual gaps-and-islands
    sessionization (plans/events.py::events_sessionize) on session
    counts per user."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.plans.catalog import query_map
    from fotmobdatapipeline_spark.streaming.events import session_aggregate

    native = (
        session_aggregate(events_batch)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    manual = query_map()["events_sessionize"](spark, SF_SMALL).select(
        "user_id", "n_sessions", "n_events"
    )
    got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in native.collect()}
    want = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in manual.collect()}
    assert got == want


def test_interval_join_stream_equals_batch_oracle(spark, events_dir, events_batch):
    """Stream-stream interval join drained to completion must produce
    exactly the pairs of the oracle-checked batch query
    (events_interval_join)."""
    from fotmobdatapipeline_spark.plans.catalog import query_map
    from fotmobdatapipeline_spark.streaming.events import (
        interval_join_stream,
        read_events_stream,
    )

    stream = read_events_stream(spark, events_dir)
    _drain(interval_join_stream(stream), "ival_join", "append")
    got = sorted(
        (r["user"], r["a_id"], r["b_id"], r["gap_us"])
        for r in spark.sql("SELECT * FROM ival_join").collect()
    )
    want = sorted(
        (r["user"], r["a_id"], r["b_id"], r["gap_us"])
        for r in query_map()["events_interval_join"](spark, SF_SMALL).collect()
    )
    assert got == want
    assert len(want) > 0


def test_dedup_stream_repairs_replayed_input(spark, tmp_path, events_batch):
    """Feed the same file twice (at-least-once replay); the watermarked
    streaming dedup must emit each event exactly once."""
    import shutil as _sh

    from fotmobdatapipeline_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
    )

    d = tmp_path / "replayed"
    d.mkdir()
    _sh.copy(f"{SF_SMALL}/events.parquet", d / "part-0.parquet")
    _sh.copy(f"{SF_SMALL}/events.parquet", d / "part-1.parquet")

    stream = read_events_stream(spark, str(d))
    _drain(dedup_stream(stream), "deduped", "append")
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS d, COUNT(*) AS n FROM deduped").collect()[0]
    assert n["n"] == events_batch.count(), "each replayed event must appear exactly once"
    assert n["d"] == n["n"]


def test_stateful_running_counts(spark, events_dir, events_batch):
    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        running_user_counts,
    )

    stream = read_events_stream(spark, events_dir)
    _drain(running_user_counts(stream), "running_counts", "update")
    # final state per user (last emitted row) == batch group counts
    rows = spark.sql(
        """SELECT user_id, max(n_events) AS n FROM running_counts GROUP BY user_id"""
    ).collect()
    got = {r["user_id"]: r["n"] for r in rows}
    want = {
        r["user_id"]: r["n"]
        for r in events_batch.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert got == want


def test_watermark_drops_late_data(spark, tmp_path):
    """A row arriving after the watermark closed its window must be
    dropped: the emitted window count reflects only on-time rows (the
    batch twin would count the late row — that asymmetry IS the
    watermark contract)."""
    import time as _time

    import pandas as pd

    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        windowed_event_counts,
    )

    d = tmp_path / "late_events"
    d.mkdir()
    ns = lambda h, m=0: (h * 3600 + m * 60) * 1_000_000_000  # noqa: E731

    def write_file(name, rows):
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.array(rows, dtype="int64"),
                "user_id": pd.array([1] * len(rows), dtype="int64"),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(str(d / name), index=False)

    # File A: one event in hour 5, steady events through hour 12 ->
    # after this batch the watermark advances to 12:00 - 2h = 10:00.
    write_file("a.parquet", [ns(5, 30)] + [ns(h) for h in range(8, 13)])
    _time.sleep(1.1)  # file-source orders by modification time
    # File B: on-time filler; during its batch the hour-5 window (end
    # 06:00 < wm 10:00) is emitted with the on-time count and evicted.
    write_file("b.parquet", [ns(13)])
    _time.sleep(1.1)
    # File C: a LATE hour-5 event, arriving after its window was emitted
    # — the watermark filter must drop it (no resurrected duplicate
    # window, no count change).
    write_file("c.parquet", [ns(5, 45)])

    stream = read_events_stream(spark, str(d))
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("late_win")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM late_win").collect()
    hour5 = [r for r in rows if str(r["window_start"]).endswith("05:00:00")]
    assert len(hour5) == 1, f"hour-5 window must be emitted exactly once: {rows}"
    assert hour5[0]["n_events"] == 1, "late row must NOT be counted"


def test_windowed_counts_on_rocksdb_state(spark, events_dir, events_batch):
    """Same stream==batch contract, but on the RocksDB state store (the
    100 TB state-scale provider) — and prove via the query's state
    operator metrics that RocksDB was actually engaged."""
    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        rocksdb_state,
        windowed_event_counts,
    )

    with rocksdb_state(spark):
        stream = read_events_stream(spark, events_dir)
        q = (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName("win_counts_rocks")
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        progress = q.lastProgress
        q.stop()

    metrics = progress["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in metrics), metrics
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts_rocks").collect()
    }
    from fotmobdatapipeline_spark.streaming.events import (
        windowed_event_counts as batch_twin,
    )

    want = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch_twin(events_batch).collect()
    }
    assert got == want and len(want) > 0


def test_transform_with_state_running_counts(spark, events_dir, events_batch):
    """The successor-stateful-API contract, executed in every
    environment: running_user_counts_stateful dispatches to
    transformWithStateInPandas when its protobuf state-server protocol
    is importable (real clusters) and to the semantically identical
    applyInPandasWithState processor otherwise (this container ships no
    protobuf) — same final per-user totals as batch either way, on
    RocksDB state."""
    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        rocksdb_state,
        running_user_counts_stateful,
    )

    with rocksdb_state(spark):
        stream = read_events_stream(spark, events_dir)
        _drain(running_user_counts_stateful(stream), "running_counts_tws", "update")
    rows = spark.sql(
        "SELECT user_id, max(n_events) AS n FROM running_counts_tws GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: r["n"] for r in rows}
    want = {
        r["user_id"]: r["n"]
        for r in events_batch.groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert got == want


def test_stream_static_dim_enrichment(spark, events_dir, events_batch):
    """Stream-static join == batch join: every event enriched with its
    user dim row; no state operator involved."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.streaming.events import (
        enrich_with_dim,
        read_events_stream,
    )

    dim = events_batch.select("user_id").distinct().withColumn(
        "user_band", (F.col("user_id") % 5).cast("int")
    )
    stream = read_events_stream(spark, events_dir)
    enriched = enrich_with_dim(
        stream.select("event_id", "user_id"), dim, "user_id"
    )
    _drain(enriched, "enriched_events", "append")
    got = spark.sql("SELECT * FROM enriched_events")
    want = events_batch.select("event_id", "user_id").join(
        F.broadcast(dim), "user_id", "left"
    )
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter(F.col("user_band").isNull()).count() == 0


def test_cms_maintenance_stream_equals_batch(spark, tmp_path):
    """The stream-maintained count-min sketch, after the feed drains,
    must be CELL-IDENTICAL to the batch sketch of the whole feed —
    mergeability making per-batch increments correct — and replaying
    the final batch must be a no-op (idempotence)."""
    import time

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.sketches import count_min_table
    from fotmobdatapipeline_spark.sources.python_datasource import (
        register_python_sources,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.sketches import cms_maintenance_sink
    from fotmobdatapipeline_spark.streaming.statefs import read_state
    from tests.conftest import SF_SMALL

    feed = str(tmp_path / "cmsfeed")
    docs = read_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    docs.repartition(6).write.mode("overwrite").json(feed)
    register_python_sources(spark)

    toks = lambda df: df.select(F.explode(F.split("text", " ")).alias("k"))
    state_path = str(tmp_path / "cms_state")
    q = cms_maintenance_sink(
        toks(
            spark.readStream.format("jsonl_docs")
            .option("maxrowsperbatch", "40")
            .load(feed)
        ),
        path=state_path,
        checkpoint=str(tmp_path / "ckpt"),
        keep_versions=2,
    )
    try:
        want = {
            (r["sketch_row"], r["bucket"]): r["cnt"]
            for r in count_min_table(
                toks(spark.read.format("jsonl_docs").load(feed)), "k"
            ).collect()
        }
        total = sum(want.values())
        got = {}
        deadline = time.time() + 120
        while time.time() < deadline:
            # A POLLING reader can straddle the version-GC horizon when
            # commits outpace its collect (the documented retention
            # contract: readers slower than keep_versions commits must
            # retry) — so a vanished version mid-read is re-polled, not
            # a failure.
            try:
                state = read_state(spark, state_path)
                if state is not None:
                    got = {
                        (r["sketch_row"], r["bucket"]): r["cnt"]
                        for r in state.collect()
                    }
                    if sum(got.values()) >= total:
                        break
            except Exception:
                pass
            time.sleep(1)
        assert got == want
    finally:
        q.stop()
    # Idempotence evidence: every stored row carries last_batch, the
    # number the CURRENT pointer's name holds — a re-delivered batch
    # with id <= last_batch is skipped by the sink.
    state = read_state(spark, state_path)
    last = state.agg(F.max("last_batch")).first()[0]
    assert last is not None and last >= 0
    # And the final state is exactly the batch sketch (asserted above),
    # so no batch was double-applied during the live run either.
    assert sorted(got.items()) == sorted(want.items())


def test_anomaly_flag_stream_matches_batch_rule(spark, events_dir, events_batch):
    """Stream anomaly flags against the batch-trained MAD baseline must
    equal the all-batch op (plans/events.py::events_anomaly_mad) window
    for window: same counts, same flags.  Pins the train-batch/score-
    stream split — the stream never recomputes the median."""
    from fotmobdatapipeline_spark.plans.events import events_anomaly_mad
    from fotmobdatapipeline_spark.streaming.events import (
        anomaly_flag_stream,
        read_events_stream,
    )

    batch = events_anomaly_mad(spark, SF_SMALL)
    baseline = batch.select("event_type", "med", "mad").distinct()
    stream = read_events_stream(spark, events_dir)
    _drain(anomaly_flag_stream(stream, baseline), "anomaly_flags", "complete")
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["is_anomaly"])
        for r in spark.sql("SELECT * FROM anomaly_flags").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["is_anomaly"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 0


def test_anomaly_flag_unseen_type_is_flagged(spark):
    """An event_type absent from the trained baseline is the classic
    anomaly the monitor exists for (a brand-new producer type): med/mad
    are null after the left join and is_anomaly must coalesce to TRUE,
    never to null (ADVICE r5).  Exercises the batch twin code path."""
    import datetime as dt

    from fotmobdatapipeline_spark.streaming.events import anomaly_flag_stream

    ts = dt.datetime(2026, 1, 1, 10, 30)
    events = spark.createDataFrame(
        [("known", ts), ("known", ts), ("brand_new", ts)],
        "event_type string, ts timestamp",
    )
    baseline = spark.createDataFrame(
        [("known", 2.0, 1.0)], "event_type string, med double, mad double"
    )
    rows = {r["event_type"]: r for r in anomaly_flag_stream(events, baseline).collect()}
    assert rows["brand_new"]["med"] is None
    assert rows["brand_new"]["is_anomaly"] is True
    assert rows["known"]["is_anomaly"] is False


def test_anomaly_flag_unseen_type_is_flagged_streaming(spark, tmp_path):
    """The STREAMING path of the same contract (VERDICT r6 #5): a
    brand-new producer type arriving on a live stream — absent from the
    trained baseline — must be SURFACED with is_anomaly=true, not
    dropped or left null, through the real watermarked windowed
    aggregate."""
    import datetime as dt

    from fotmobdatapipeline_spark.streaming.events import anomaly_flag_stream

    ts = dt.datetime(2026, 1, 1, 10, 30)
    feed = spark.createDataFrame(
        [("known", ts), ("known", ts), ("brand_new", ts)],
        "event_type string, ts timestamp",
    )
    feed_dir = str(tmp_path / "unseen_feed")
    feed.coalesce(1).write.parquet(feed_dir)
    baseline = spark.createDataFrame(
        [("known", 2.0, 1.0)], "event_type string, med double, mad double"
    )
    stream = spark.readStream.schema(feed.schema).parquet(feed_dir)
    _drain(anomaly_flag_stream(stream, baseline), "unseen_flags", "complete")
    rows = {
        r["event_type"]: r
        for r in spark.sql("SELECT * FROM unseen_flags").collect()
    }
    assert rows["brand_new"]["med"] is None
    assert rows["brand_new"]["is_anomaly"] is True
    assert rows["known"]["is_anomaly"] is False


def test_hll_maintenance_stream_equals_batch(spark, tmp_path):
    """The stream-maintained HLL register table, after the feed drains,
    must be REGISTER-IDENTICAL to the batch sketch of the whole feed
    (per-register max-merge correctness, the sketch_hll_merge property
    driving a live sink), and carry the replay-guard batch id."""
    import time

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.sketches import hll_registers
    from fotmobdatapipeline_spark.sources.python_datasource import (
        register_python_sources,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.sketches import hll_maintenance_sink
    from fotmobdatapipeline_spark.streaming.statefs import read_state
    from tests.conftest import SF_SMALL

    feed = str(tmp_path / "hllfeed")
    docs = read_table(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    docs.repartition(4).write.mode("overwrite").json(feed)
    register_python_sources(spark)

    toks = lambda df: df.select(F.explode(F.split("text", " ")).alias("k"))
    state_path = str(tmp_path / "hll_state")
    q = hll_maintenance_sink(
        toks(
            spark.readStream.format("jsonl_docs")
            .option("maxrowsperbatch", "40")
            .load(feed)
        ),
        path=state_path,
        checkpoint=str(tmp_path / "hll_ckpt"),
    )
    try:
        want = {
            r["reg_idx"]: r["max_rho"]
            for r in hll_registers(
                toks(spark.read.format("jsonl_docs").load(feed)), "k"
            ).collect()
        }
        got = {}
        deadline = time.time() + 120
        while time.time() < deadline:
            # Polling reader vs version GC: a straddled version is
            # re-polled, not a failure (same retention contract as the
            # CMS test above).
            try:
                state = read_state(spark, state_path)
                if state is not None:
                    got = {r["reg_idx"]: r["max_rho"] for r in state.collect()}
                    if got == want:
                        break
            except Exception:
                pass
            time.sleep(1)
        assert got == want
    finally:
        q.stop()
    state = read_state(spark, state_path)
    last = state.agg(F.max("last_batch")).first()[0]
    assert last is not None and last >= 0


def test_hll_sink_keeps_max_rho_int_in_every_version(spark, tmp_path):
    """The fold casts each merged value back to the increment's own
    type: HLL's ``max_rho`` is ``int`` both in the first version (the
    increment as it is) and in the merged one — a fold that cast every
    value to bigint would change the stored schema from v1 on."""
    from fotmobdatapipeline_spark.streaming.sketches import hll_maintenance_sink

    src = tmp_path / "src"
    for i, keys in enumerate((["a", "b", "c"], ["c", "d"])):
        spark.createDataFrame([(k,) for k in keys], "k string").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    state = str(tmp_path / "hll_state")
    q = hll_maintenance_sink(
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*"),
        path=state,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    for v in ("v0", "v1"):
        types = dict(spark.read.parquet(f"{state}/{v}").dtypes)
        assert types["max_rho"] == "int", (v, types)


def test_interval_left_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join drained to completion must
    equal the batch left join: matched pairs identical AND every
    no-view purchase emitted with null right side.  Far-future sentinel
    events (excluded from the compare) advance both sides' watermarks
    past the real feed so Spark can prove the unmatched lefts are final
    — without them the trailing unmatched rows legitimately stay parked
    in state (the documented outer-join caveat)."""
    import shutil as _sh
    import time as _time

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import (
        interval_left_join_stream,
        read_events_stream,
    )

    d = tmp_path / "louter"
    d.mkdir()
    _sh.copy(f"{SF_SMALL}/events.parquet", d / "a.parquet")
    raw = spark.read.parquet(str(d / "a.parquet"))
    ts_type = raw.schema["ts"].dataType
    max_ts = raw.agg(F.max("ts")).first()[0]

    def sentinels(days, eid):
        base = raw.limit(1)
        rows = []
        for off, etype in ((0, "purchase"), (1, "view")):
            rows.append(
                base.select(
                    F.lit(eid + off).cast("long").alias("event_id"),
                    (F.lit(max_ts) + F.expr(f"INTERVAL {days} DAYS")).cast(
                        ts_type
                    ).alias("ts"),
                    F.lit(-999).cast("long").alias("user_id"),
                    F.lit(etype).alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit("{}").alias("props"),
                )
            )
        return rows[0].unionByName(rows[1])

    # Two sentinel batches: the first advances the watermark past the
    # feed (evicting unmatched lefts), the second forces one more
    # micro-batch so the eviction results are actually emitted.
    _time.sleep(1.1)
    sentinels(10, 9_000_000).coalesce(1).write.mode("append").parquet(str(d))
    _time.sleep(1.1)
    sentinels(20, 9_000_002).coalesce(1).write.mode("append").parquet(str(d))

    stream = read_events_stream(spark, str(d))
    _drain(interval_left_join_stream(stream), "louter_join", "append")
    got = sorted(
        (r["user"], r["a_id"], r["b_id"], r["gap_us"])
        for r in spark.sql(
            "SELECT * FROM louter_join WHERE user <> -999"
        ).collect()
    )
    batch = interval_left_join_stream(read_table(spark, SF_SMALL, "events"))
    want = sorted(
        (r["user"], r["a_id"], r["b_id"], r["gap_us"]) for r in batch.collect()
    )
    assert got == want
    assert len(want) > 0
    # The left-outer contract bit: at least one purchase with no view.
    assert any(b is None for _, _, b, _ in want)


def test_interval_full_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream FULL OUTER interval join drained to completion must
    equal the batch full join: matched pairs identical, no-view
    purchases with null right side, AND orphaned views with null left
    side.  Sentinels advance both watermarks past the feed (the outer
    caveat, as in the left-join test above)."""
    import shutil as _sh
    import time as _time

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import (
        interval_full_join_stream,
        read_events_stream,
    )

    d = tmp_path / "fouter"
    d.mkdir()
    _sh.copy(f"{SF_SMALL}/events.parquet", d / "a.parquet")
    raw = spark.read.parquet(str(d / "a.parquet"))
    ts_type = raw.schema["ts"].dataType
    max_ts = raw.agg(F.max("ts")).first()[0]

    def sentinels(days, eid):
        base = raw.limit(1)
        rows = []
        for off, etype in ((0, "purchase"), (1, "view")):
            rows.append(
                base.select(
                    F.lit(eid + off).cast("long").alias("event_id"),
                    (F.lit(max_ts) + F.expr(f"INTERVAL {days} DAYS")).cast(
                        ts_type
                    ).alias("ts"),
                    F.lit(-999).cast("long").alias("user_id"),
                    F.lit(etype).alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit("{}").alias("props"),
                )
            )
        return rows[0].unionByName(rows[1])

    _time.sleep(1.1)
    sentinels(10, 9_100_000).coalesce(1).write.mode("append").parquet(str(d))
    _time.sleep(1.1)
    sentinels(20, 9_100_002).coalesce(1).write.mode("append").parquet(str(d))

    stream = read_events_stream(spark, str(d))
    _drain(interval_full_join_stream(stream), "fouter_join", "append")
    got = sorted(
        (
            (r["user"], r["a_id"], r["b_id"], r["gap_us"])
            for r in spark.sql(
                "SELECT * FROM fouter_join WHERE user <> -999"
            ).collect()
        ),
        key=repr,  # None-bearing tuples aren't orderable with <
    )
    batch = interval_full_join_stream(read_table(spark, SF_SMALL, "events"))
    want = sorted(
        ((r["user"], r["a_id"], r["b_id"], r["gap_us"]) for r in batch.collect()),
        key=repr,
    )
    assert got == want
    assert len(want) > 0
    # The full-outer contract bits: unmatched rows on BOTH sides.
    assert any(b is None for _, _, b, _ in want)
    assert any(a is None for _, a, _, _ in want)


def test_type_mix_sink_equals_batch_drift(spark, tmp_path, events_dir):
    """The maintained per-type count state, after the feed drains, must
    equal the batch groupBy of the whole feed, and the drift report
    derived from state must equal the exact batch share computation vs
    the same baseline — the drift monitor's streaming face, feed never
    rescanned."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import (
        read_events_stream,
        read_type_mix_drift,
        type_mix_maintenance_sink,
    )
    from tests.conftest import SF_SMALL

    state = str(tmp_path / "mix_state")
    q = type_mix_maintenance_sink(
        read_events_stream(spark, events_dir),
        path=state,
        checkpoint=str(tmp_path / "mix_ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    feed = read_table(spark, SF_SMALL, "events")
    want_counts = {
        r["event_type"]: r["n"]
        for r in feed.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    baseline = feed.groupBy("event_type").agg(
        (F.count("*") + F.lit(7)).alias("n_base")  # perturbed baseline
    )
    report = read_type_mix_drift(spark, state, baseline)
    assert report is not None
    rows = {r["event_type"]: r for r in report.collect()}
    assert {t: r["n_cur"] for t, r in rows.items()} == want_counts
    tb = sum(v + 7 for v in want_counts.values())
    tc = sum(want_counts.values())
    for t, r in rows.items():
        assert r["share_base"] == (want_counts[t] + 7) / tb
        assert r["share_cur"] == want_counts[t] / tc
        assert r["share_delta"] == r["share_cur"] - r["share_base"]


def test_sketch_sink_retention_survives_slow_reader(spark, tmp_path):
    """Version-retention contract of the sketch maintenance sinks
    (VERDICT r6 #7): a reader that resolved CURRENT and then lagged
    behind TWO further commits must still be able to read its pinned
    version when ``keep_versions=2`` — and the GC must still collect
    versions beyond the retention horizon (bounded storage)."""
    import datetime as dt
    import os

    from fotmobdatapipeline_spark.streaming.sketches import cms_maintenance_sink
    from fotmobdatapipeline_spark.streaming.statefs import StateFs

    feed_dir = str(tmp_path / "retfeed")
    schema = "k string, ts timestamp"
    ts = dt.datetime(2026, 1, 1)

    def push(keys):
        spark.createDataFrame(
            [(k, ts) for k in keys], schema
        ).coalesce(1).write.mode("append").parquet(feed_dir)

    def drain():
        q = cms_maintenance_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed_dir),
            path=str(tmp_path / "ret_state"),
            checkpoint=str(tmp_path / "ret_ckpt"),
            keep_versions=2,
        )
        q.processAllAvailable()
        q.stop()

    state = str(tmp_path / "ret_state")
    push(["a", "b"])
    drain()
    # the slow reader resolves CURRENT here
    pinned = StateFs(spark, state).read_text("CURRENT")
    pinned_path = os.path.join(state, pinned)

    push(["c"])
    push(["d"])
    drain()  # two further commits land

    # The lagging reader's version is still on disk and readable.
    assert os.path.isdir(pinned_path)
    assert spark.read.parquet(pinned_path).count() > 0
    # CURRENT moved on; retention kept exactly new + 2 priors.
    cur = StateFs(spark, state).read_text("CURRENT")
    assert cur != pinned
    versions = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert len(versions) == 3, versions

    # One more commit pushes the pinned version past the horizon: GC
    # collects it (storage stays bounded at 1 + keep_versions dirs).
    push(["e"])
    drain()
    assert not os.path.exists(pinned_path)
    assert len([d for d in os.listdir(state) if d.startswith("v")]) == 3


def test_holt_state_stream_equals_batch_fold(spark, tmp_path):
    """Per-user Holt state across MULTIPLE in-order micro-batches must
    end bit-identical to the batch entry's whole-history fold — the
    O(users) running state replaces the O(history) batch fold without
    changing a single bit of the answer."""
    import time as _time

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.plans.catalog import query_map
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import (
        holt_state_stream,
        read_events_stream,
    )

    # split the feed into 3 plain FILES by event_id range, mtime-ordered,
    # so the file source delivers them as separate IN-ORDER micro-batches
    import glob as _glob
    import shutil as _sh

    ev = read_table(spark, SF_SMALL, "events")
    n = ev.count()
    d = tmp_path / "ordered"
    d.mkdir()
    cuts = [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]
    for i, (lo, hi) in enumerate(cuts):
        stage = str(tmp_path / f"stage{i}")
        ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)).coalesce(
            1
        ).write.parquet(stage)
        part = _glob.glob(stage + "/part-*.parquet")[0]
        _sh.move(part, str(d / f"chunk{i}.parquet"))
        _time.sleep(1.1)  # file source orders by modification time

    stream = read_events_stream(spark, str(d))
    q = (
        holt_state_stream(stream)
        .writeStream.format("memory")
        .queryName("holt_state")
        .outputMode("update")
        .option("maxFilesPerTrigger", 1)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last emission per user (highest n_seen) is the final state
    got = {}
    for r in spark.sql("SELECT * FROM holt_state").collect():
        if r["user_id"] not in got or r["n_seen"] > got[r["user_id"]][3]:
            got[r["user_id"]] = (
                r["holt_level"], r["holt_trend"], r["forecast_next"], r["n_seen"]
            )
    want = {
        r["user_id"]: (r["holt_level"], r["holt_trend"], r["forecast_next"])
        for r in query_map()["events_holt_forecast"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(want)
    for u, (lvl, trd, fc) in want.items():
        assert got[u][:3] == (lvl, trd, fc), u  # bit-identical


def test_cusum_sink_stream_equals_batch(spark, tmp_path, events_dir):
    """The maintained hourly-cents table, after the feed drains, must be
    cell-identical to the batch hourly collapse of the whole feed, and
    the CUSUM report read from it bit-identical to the batch entry's
    shared fold — drift detection without ever rescanning the feed."""
    from fotmobdatapipeline_spark.operators.timeseries import (
        cusum_hourly_report,
        hourly_cents,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import (
        hourly_cents_maintenance_sink,
        read_cusum_report,
        read_events_stream,
    )
    from tests.conftest import SF_SMALL

    state = str(tmp_path / "cusum_state")
    q = hourly_cents_maintenance_sink(
        read_events_stream(spark, events_dir),
        path=state,
        checkpoint=str(tmp_path / "cusum_ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    feed = read_table(spark, SF_SMALL, "events")
    want_cells = sorted(map(tuple, hourly_cents(feed).collect()))
    got_cells = sorted(
        map(
            tuple,
            spark.read.parquet(
                f"{state}/{open(f'{state}/CURRENT').read().strip()}"
            )
            .select("event_type", "ho", "cents")
            .collect(),
        )
    )
    assert got_cells == want_cells

    got = sorted(map(tuple, read_cusum_report(spark, state).collect()))
    want = sorted(map(tuple, cusum_hourly_report(hourly_cents(feed)).collect()))
    assert got == want and len(want) > 0


def test_msprt_stream_maintenance_equals_batch(spark, tmp_path):
    """Stream == batch for the always-valid monitor: draining the
    events feed through msprt_maintenance_sink and reading the shared
    report must be BIT-identical to the batch entry over the same
    events, and replaying the feed from a fresh checkpoint must be a
    no-op."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.plans.catalog import QUERIES, _load_all
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.abtest import (
        msprt_maintenance_sink,
        read_msprt_report,
    )
    from tests.conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events")
    src = tmp_path / "src"
    src.mkdir()
    # Preserve the micro-batch semantics over the SAME instants: write
    # ts as µs longs and rebuild the timestamp on read.
    staged = ev.withColumn("tus", F.unix_micros("ts")).drop("ts")
    staged.filter(F.col("event_id") % 3 == 0).coalesce(1).write.parquet(
        str(src / "b0")
    )
    staged.filter(F.col("event_id") % 3 == 1).coalesce(1).write.parquet(
        str(src / "b1")
    )
    staged.filter(F.col("event_id") % 3 == 2).coalesce(1).write.parquet(
        str(src / "b2")
    )
    schema = ("event_id long, tus long, user_id long, event_type string, "
              "value double, props string")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros("tus"))
        )
        q = msprt_maintenance_sink(
            stream, str(tmp_path / "msprt"), str(tmp_path / ckpt)
        )
        q.processAllAvailable()
        q.stop()

    drain("ck0")
    streamed = read_msprt_report(spark, str(tmp_path / "msprt"))
    got = sorted(map(tuple, streamed.collect()))
    _load_all()
    want = sorted(
        map(
            tuple,
            QUERIES["events_msprt_monitor"].builder(spark, SF_SMALL).collect(),
        )
    )
    assert got == want and len(got) > 0

    drain("ck1")  # repeat batch ids -> replay guard
    again = sorted(
        map(tuple, read_msprt_report(spark, str(tmp_path / "msprt")).collect())
    )
    assert again == got


def test_chi2_stream_maintenance_equals_batch(spark, tmp_path):
    """Stream == batch for the chi-square independence monitor:
    draining the events feed through chi2_maintenance_sink and reading
    the shared report must be BIT-identical to the batch entry over the
    same events, and replaying the feed from a fresh checkpoint must be
    a no-op (exactly-once contract)."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.plans.catalog import QUERIES, _load_all
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.abtest import (
        chi2_maintenance_sink,
        read_chi2_report,
    )
    from tests.conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events")
    src = tmp_path / "src"
    src.mkdir()
    staged = ev.withColumn("tus", F.unix_micros("ts")).drop("ts")
    for i in range(3):
        staged.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    schema = ("event_id long, tus long, user_id long, event_type string, "
              "value double, props string")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros("tus"))
        )
        q = chi2_maintenance_sink(
            stream, str(tmp_path / "chi2"), str(tmp_path / ckpt)
        )
        q.processAllAvailable()
        q.stop()

    drain("ck0")
    got = sorted(map(tuple, read_chi2_report(spark, str(tmp_path / "chi2")).collect()))
    _load_all()
    want = sorted(
        map(
            tuple,
            QUERIES["events_chi2_independence"].builder(spark, SF_SMALL).collect(),
        )
    )
    assert got == want and len(got) == 1

    drain("ck1")  # repeat batch ids -> replay guard
    again = sorted(
        map(tuple, read_chi2_report(spark, str(tmp_path / "chi2")).collect())
    )
    assert again == got


def test_holt_winters_read_from_cusum_state_equals_batch(spark, tmp_path, events_dir):
    """One maintained hourly-cents state, two monitors: the Holt-Winters
    readout from the SAME drained table must be bit-identical to the
    batch events_holt_winters_hourly entry over the full feed."""
    from fotmobdatapipeline_spark.operators.timeseries import (
        holt_winters_hourly_report,
        hourly_cents,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import (
        hourly_cents_maintenance_sink,
        read_events_stream,
        read_holt_winters_report,
    )
    from tests.conftest import SF_SMALL

    state = str(tmp_path / "hw_state")
    q = hourly_cents_maintenance_sink(
        read_events_stream(spark, events_dir),
        path=state,
        checkpoint=str(tmp_path / "hw_ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    feed = read_table(spark, SF_SMALL, "events")
    want = sorted(
        map(tuple, holt_winters_hourly_report(hourly_cents(feed)).collect())
    )
    got = sorted(map(tuple, read_holt_winters_report(spark, state).collect()))
    assert got == want and len(got) == 1


def test_ams_stream_maintenance_equals_batch(spark, tmp_path):
    """Stream == batch for the AMS F2 sketch: counters are linear, so
    draining the feed through ams_maintenance_sink must leave a counters
    row CELL-identical to the batch sketch of the whole feed, and the
    shared median-of-squares readout bit-identical to the batch entry's
    estimate columns.  Replay from a fresh checkpoint is a no-op."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.plans.catalog import QUERIES, _load_all
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.abtest import (
        ams_maintenance_sink,
        read_ams_estimate,
    )
    from tests.conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events")
    src = tmp_path / "src"
    src.mkdir()
    staged = ev.withColumn("tus", F.unix_micros("ts")).drop("ts")
    for i in range(3):
        staged.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    schema = ("event_id long, tus long, user_id long, event_type string, "
              "value double, props string")

    def drain(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
            .withColumn("ts", F.timestamp_micros("tus"))
        )
        q = ams_maintenance_sink(
            stream, str(tmp_path / "ams"), str(tmp_path / ckpt)
        )
        q.processAllAvailable()
        q.stop()

    drain("ck0")
    got = read_ams_estimate(spark, str(tmp_path / "ams")).collect()
    assert len(got) == 1
    _load_all()
    want = QUERIES["sketch_ams_f2"].builder(spark, SF_SMALL).collect()[0]
    for i in range(5):
        assert got[0][f"z{i}"] == want[f"z{i}"]
    assert got[0]["f2_est"] == want["f2_est"]

    drain("ck1")  # repeat batch ids -> replay guard
    again = read_ams_estimate(spark, str(tmp_path / "ams")).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in got]


def test_bloom_index_stream_equals_batch(spark, tmp_path):
    """Stream == batch for the bloom membership index: bit_or of
    per-batch word tables IS the bloom of the union, so the drained
    index must be bit-identical to a batch bloom_filter_table over the
    whole corpus, and probe verdicts through it identical too."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.sketches import (
        bloom_filter_table,
        bloom_probe,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.abtest import (
        bloom_index_sink,
        read_bloom_index,
    )
    from tests.conftest import SF_SMALL

    docs = read_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = bloom_index_sink(stream, str(tmp_path / "bloom"), str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    streamed = read_bloom_index(spark, str(tmp_path / "bloom"))
    batch = bloom_filter_table(
        docs.select(F.col("text").alias("k")), "k", m_bits=8192
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )

    probes = docs.limit(5).select(F.col("text").alias("k")).unionByName(
        spark.createDataFrame([("absent-xyzzy",)], "k string")
    )
    got = {
        r["k"]: r["maybe_member"]
        for r in bloom_probe(streamed, probes, "k", m_bits=8192).collect()
    }
    want = {
        r["k"]: r["maybe_member"]
        for r in bloom_probe(batch, probes, "k", m_bits=8192).collect()
    }
    assert got == want
    assert all(v for k, v in got.items() if k != "absent-xyzzy")
