"""Streaming semantics tests (SURVEY §5.2): replay the events fixture through a
file stream with a 0-second watermark and assert the sink equals the batch
computation of the same query (batch-as-oracle), including the idempotent-upsert
replay guarantee (the reference's O5 effectively-exactly-once behavior)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kda_flink_demo_spark.io.sources import load_table
from kda_flink_demo_spark.operators.over_windows import sliding_range_count
from kda_flink_demo_spark.operators.windows import hopping_counts, tumbling_counts
from kda_flink_demo_spark.streaming import jobs
from kda_flink_demo_spark.streaming.upsert import DuckDBUpsertSink
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """events sorted by ts, chunked into 5 time-ordered parquet files so the
    micro-batch replay sees in-order arrival (late-drop timing divergence from
    Flink's per-record watermark doesn't bite on in-order replays)."""
    out = str(tmp_path_factory.mktemp("events_replay"))
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    n = len(rows)
    chunk = (n + 4) // 5
    for i in range(5):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(f"{out}/chunk={i:02d}")
    return out


def _stream(spark, replay_dir):
    from kda_flink_demo_spark.schemas import EVENTS_SCHEMA
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
        ]
    )
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(replay_dir + "/chunk=*")
    )


def _run(spark, result, sink, checkpoint):
    q = jobs.run_to_sink(result, sink, checkpoint)
    q.awaitTermination(300)
    assert not q.isActive


def test_streaming_tumbling_matches_batch(spark, replay_dir, tmp_path):
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    result = jobs.job_tumbling(_stream(spark, replay_dir))
    _run(spark, result, sink, str(tmp_path / "ckpt"))

    cols, got = sink.read_all()
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    expected = {(r.railway_class, r.window_start, r.window_end): r.railway_class_count for r in batch.collect()}
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    # append-mode with watermark 0s: every closed window must match the batch
    # value; the final partial windows only emit if the source signals EOS, so
    # compare on the intersection and require near-complete coverage
    assert len(got_map) >= len(expected) - 10
    for k, v in got_map.items():
        assert expected[k] == v, f"window {k}: stream={v} batch={expected[k]}"


def test_upsert_sink_is_idempotent_on_replay(spark, tmp_path):
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink2.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    sink(batch, 0)
    _, once = sink.read_all()
    sink(batch, 0)  # replayed micro-batch, same batchId → same PKs, same values
    _, twice = sink.read_all()
    assert sorted(once) == sorted(twice)


def test_streaming_sliding_state_matches_batch(spark, replay_dir, tmp_path):
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink3.duckdb"), "sliding", jobs.SLIDING_SINK_KEYS, jobs.SLIDING_SINK_SCHEMA
    )
    events = _stream(spark, replay_dir)
    result = jobs.job_sliding(events, preceding_seconds=30 * 60)
    _run(spark, result, sink, str(tmp_path / "ckpt3"))

    cols, got = sink.read_all()
    batch = sliding_range_count(
        load_table(spark, SF_DIR, "events").select(
            "event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        ),
        preceding_seconds=30 * 60,
    )
    expected = {
        (r.event_id, r.railway_class, r.rowtime): r.railway_class_count for r in batch.collect()
    }
    got_map = {
        (r[cols.index("event_id")], r[cols.index("railway_class")], r[cols.index("rowtime")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert len(got_map) == len(expected)
    mismatches = {k: (v, expected[k]) for k, v in got_map.items() if expected[k] != v}
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {list(mismatches.items())[:3]}"


@pytest.mark.parametrize(
    "job_name,batch_fn",
    [
        (
            "StreamJobTumblingOffset",
            lambda ev: tumbling_counts(ev, offset="30 seconds"),
        ),
        ("StreamJobSqlHopping", lambda ev: hopping_counts(ev)),
    ],
)
def test_streaming_windows_match_batch(spark, replay_dir, tmp_path, job_name, batch_fn):
    """W3 offset and W4 hopping streaming jobs equal their batch twins."""
    schema_sql = jobs.TUMBLING_SINK_SCHEMA
    keys = jobs.TUMBLING_SINK_KEYS
    if job_name == "StreamJobSqlHopping":
        schema_sql += ", received_on TIMESTAMP"
    sink = DuckDBUpsertSink(str(tmp_path / f"{job_name}.duckdb"), "w", keys, schema_sql)
    result = jobs.dispatch(job_name)(_stream(spark, replay_dir))
    _run(spark, result, sink, str(tmp_path / f"ckpt_{job_name}"))
    cols, got = sink.read_all()
    ev = load_table(spark, SF_DIR, "events").select(
        F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
    )
    expected = {tuple(r[k] for k in keys): r.railway_class_count for r in batch_fn(ev).collect()}
    got_map = {tuple(r[cols.index(k)] for k in keys): r[cols.index("railway_class_count")] for r in got}
    assert len(got_map) >= len(expected) - 20  # trailing open windows may not emit
    for k, v in got_map.items():
        assert expected[k] == v, f"{job_name} window {k}: stream={v} batch={expected[k]}"


def test_crash_recovery_mid_stream(spark, replay_dir, tmp_path):
    """Stronger O5 check: stop the query after the first micro-batch (simulated
    crash), restart from the checkpoint, drain — final sink must equal the batch
    computation exactly (no lost or double-counted windows)."""
    import time

    sink = DuckDBUpsertSink(
        str(tmp_path / "crash.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    ckpt = str(tmp_path / "crash_ckpt")

    # phase 1: continuous trigger, kill after ≥1 committed batch
    q = (
        jobs.job_tumbling(_stream(spark, replay_dir))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.5)
    q.stop()
    _, mid = sink.read_all()

    # phase 2: restart from the same checkpoint, drain the rest
    q2 = jobs.run_to_sink(jobs.job_tumbling(_stream(spark, replay_dir)), sink, ckpt)
    q2.awaitTermination(300)
    cols, got = sink.read_all()

    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    expected = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in batch.collect()
    }
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert len(got_map) > len(mid), "restart should have made progress beyond the crash point"
    for k, v in got_map.items():
        assert expected[k] == v, f"window {k}: stream={v} batch={expected[k]}"


def test_out_of_order_chunk_semantics(spark, tmp_path):
    """T2 divergence, pinned to Spark's ACTUAL behavior (verified empirically on
    4.1.2): the late-event filter uses the watermark as of the batch START — one
    batch behind eviction. A whole chunk arriving one batch after the watermark
    jumped is therefore still ACCEPTED (Flink's per-record watermark would drop
    it); windows it reopens re-emit, and a window spanning the chunk boundary
    may re-emit a PARTIAL count. The max-merge upsert sink absorbs exactly that:
    no window ever regresses, and every fully-reopened window lands on the full
    batch value."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    n = len(rows)
    early, late, tail = rows[: n // 3], rows[n // 3 : 2 * n // 3], rows[2 * n // 3 :]
    out = str(tmp_path / "ooo_replay")
    # arrival order: early, TAIL (jumps the watermark forward), then LATE
    for i, part in enumerate([early, tail, late]):
        spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(f"{out}/chunk={i:02d}")

    sink = DuckDBUpsertSink(
        str(tmp_path / "ooo.duckdb"),
        "tumbling",
        jobs.TUMBLING_SINK_KEYS,
        jobs.TUMBLING_SINK_SCHEMA,
        merge="max",
    )
    _run(spark, jobs.job_tumbling(_stream(spark, out)), sink, str(tmp_path / "ooo_ckpt"))
    cols, got = sink.read_all()
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    full_batch = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in tumbling_counts(ev).collect()
    }
    # no spurious windows, no over-counting
    assert set(got_map) <= set(full_batch)
    assert all(v <= full_batch[k] for k, v in got_map.items())
    # the late chunk was accepted (lagging late-filter): nearly every window
    # matches the full batch; only chunk-boundary windows may hold a partial
    mismatch = {k: (v, full_batch[k]) for k, v in got_map.items() if full_batch[k] != v}
    assert len(mismatch) <= 4, f"too many partial windows: {list(mismatch.items())[:5]}"
    assert len(got_map) >= len(full_batch) - 10


def test_watermark_delay_keeps_late_data(spark, tmp_path):
    """With a positive watermark delay, late rows inside the allowed lateness
    ARE counted: replay [days 0–20 minus a hole, the hole (days 10–12, late),
    days 20–30] with a 15-day delay. The final watermark (day30 − 15d = day15)
    closes the hole's windows, which must match the FULL batch — proving the
    late chunk landed in still-open state."""
    import datetime as dt

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    t0 = min(r.rowtime for r in rows)
    day = lambda x: t0 + dt.timedelta(days=x)  # noqa: E731
    late = [r for r in rows if day(10) <= r.rowtime < day(12)]
    main = [r for r in rows if r.rowtime < day(20) and not (day(10) <= r.rowtime < day(12))]
    tail = [r for r in rows if r.rowtime >= day(20)]
    assert late and main and tail
    out = str(tmp_path / "wm_replay")
    for i, part in enumerate([main, late, tail]):
        spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(f"{out}/chunk={i:02d}")

    sink = DuckDBUpsertSink(
        str(tmp_path / "wm.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    result = tumbling_counts(_stream(spark, out).withWatermark("rowtime", "15 days"))
    _run(spark, result, sink, str(tmp_path / "wm_ckpt"))
    cols, got = sink.read_all()
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    full_batch = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in tumbling_counts(ev).collect()
    }
    # every emitted window matches the full batch (late rows included) ...
    for k, v in got_map.items():
        assert full_batch[k] == v, f"window {k}: stream={v} batch={full_batch[k]}"
    # ... and the late chunk's windows did emit
    late_windows = {k for k in full_batch if day(10) <= k[1] < day(12)}
    emitted_late = late_windows & set(got_map)
    assert emitted_late, "late-chunk windows should have closed and emitted"


def test_update_mode_with_upsert_converges_to_batch(spark, replay_dir, tmp_path):
    """O-mode breadth: update output mode emits windows as they CHANGE (not just
    when they close); the keyed upsert makes later emissions overwrite earlier
    partials, so the final sink equals the batch result exactly — including the
    trailing windows append mode never emits."""
    sink = DuckDBUpsertSink(
        str(tmp_path / "upd.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
    )
    result = jobs.job_tumbling(_stream(spark, replay_dir))
    q = (
        result.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "upd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    cols, got = sink.read_all()
    batch = tumbling_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        )
    )
    expected = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in batch.collect()
    }
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert got_map == expected


def test_rocksdb_state_store_provider(spark, replay_dir, tmp_path):
    """The at-scale state backend loads and produces identical results."""
    from kda_flink_demo_spark.streaming.jobs import ROCKSDB_PROVIDER, use_rocksdb_state

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state(spark)
    try:
        sink = DuckDBUpsertSink(
            str(tmp_path / "rocks.duckdb"), "tumbling", jobs.TUMBLING_SINK_KEYS, jobs.TUMBLING_SINK_SCHEMA
        )
        _run(spark, jobs.job_tumbling(_stream(spark, replay_dir)), sink, str(tmp_path / "rocks_ckpt"))
        cols, got = sink.read_all()
        batch = tumbling_counts(
            load_table(spark, SF_DIR, "events").select(
                F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
            )
        )
        expected = {
            (r.railway_class, r.window_start, r.window_end): r.railway_class_count
            for r in batch.collect()
        }
        got_map = {
            (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
            r[cols.index("railway_class_count")]
            for r in got
        }
        assert len(got_map) >= len(expected) - 10
        for k, v in got_map.items():
            assert expected[k] == v
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_dispatch_no_fallthrough():
    assert jobs.dispatch("StreamJobSqlTumbling") is jobs.job_tumbling
    with pytest.raises(KeyError):
        jobs.dispatch("NoSuchJob")


def test_streaming_exact_dedup_emits_each_event_once(spark, replay_dir, tmp_path):
    """Streaming form of the exact-dedup operator: replay every chunk TWICE
    (duplicate arrivals are the at-least-once source reality) and assert
    dropDuplicates state emits each event_id exactly once across the run.
    Unbounded dedup state here is fine for the bounded test replay; production
    bounds it with dropDuplicatesWithinWatermark over the dup-arrival horizon."""
    import glob
    import shutil

    dup_dir = tmp_path / "dup_replay"
    dup_dir.mkdir()
    files = sorted(glob.glob(replay_dir + "/chunk=*/*.parquet"))
    assert files
    for i, f in enumerate(files):
        shutil.copy(f, dup_dir / f"a{i:02d}.parquet")
        shutil.copy(f, dup_dir / f"b{i:02d}.parquet")

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(dup_dir))
        .dropDuplicates(["event_id"])
    )
    emitted = {"rows": 0, "ids": 0}

    def sink(batch_df, batch_id):
        emitted["rows"] += batch_df.count()

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    n_unique = (
        spark.read.schema(schema).parquet(str(dup_dir)).select("event_id").distinct().count()
    )
    assert emitted["rows"] == n_unique


@pytest.fixture(scope="module")
def replay_full_dir(spark, tmp_path_factory):
    """Full-column events replay (user_id/value kept) for the join tests."""
    out = str(tmp_path_factory.mktemp("events_replay_full"))
    ev = load_table(spark, SF_DIR, "events").orderBy("ts")
    rows = ev.collect()
    chunk = (len(rows) + 4) // 5
    for i in range(5):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(f"{out}/chunk={i:02d}")
    return out


def _full_stream(spark, replay_full_dir):
    schema = load_table(spark, SF_DIR, "events").schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(replay_full_dir + "/chunk=*")
    )


def test_stream_static_enrichment_matches_batch(spark, replay_full_dir, tmp_path):
    """Stream-static join: per-micro-batch broadcast of a dimension table into
    the stream (the standard enrichment pattern — dim lookups never shuffle the
    stream side)."""
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )
    enriched = (
        _full_stream(spark, replay_full_dir)
        .join(F.broadcast(dim), "event_type")
        .select("event_id", "category")
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {(r.event_id, r.category) for r in spark.sql("SELECT * FROM enrich_out").collect()}
    want = {
        (r.event_id, r.category)
        for r in load_table(spark, SF_DIR, "events").join(dim, "event_type").select("event_id", "category").collect()
    }
    assert got == want and len(want) > 0


def test_stream_stream_interval_join_matches_batch(spark, replay_full_dir, tmp_path):
    """Stream-stream inner join with an event-time interval condition
    (view→click attribution within an hour): both sides watermarked so state
    is evictable; inner-join matches emit as they arrive, so the final result
    equals the batch join exactly."""
    s = _full_stream(spark, replay_full_dir)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "90 minutes")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "90 minutes")
    )
    joined = views.join(
        clicks,
        (views.user_id == clicks.user_id)
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
    ).select("view_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {(r.view_id, r.click_id) for r in spark.sql("SELECT * FROM attrib_out").collect()}
    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    want = {
        (r.view_id, r.click_id)
        for r in v.join(
            c,
            (v.user_id == F.col("c_user_id"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_upsert_sink_all_key_columns_does_nothing_on_conflict(spark, tmp_path):
    """A sink whose every column is a key (distinct-keys/dedup sink) must emit
    ON CONFLICT DO NOTHING — 'DO UPDATE SET' with an empty column list is a
    SQL syntax error."""
    sink = DuckDBUpsertSink(str(tmp_path / "allkey.duckdb"), "seen", ["k"], "k BIGINT")
    sink(spark.createDataFrame([(1,), (2,)], "k long"), batch_id=0)
    sink(spark.createDataFrame([(2,), (3,)], "k long"), batch_id=1)  # 2 conflicts
    cols, rows = sink.read_all()
    assert sorted(r[0] for r in rows) == [1, 2, 3]


def test_streaming_count_windows_match_batch(spark, tmp_path):
    """Count-window streaming twin (Flink countWindow): closed streaming
    windows must EXACTLY equal the batch query's full windows — count windows
    close on arrival of the size-th event, so nothing waits on the watermark;
    only the final partial per key stays in state."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.streaming.count_windows import count_windows_stream

    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id",
            F.col("event_type").alias("railway_class"),
            F.col("ts").alias("rowtime"),
            "value",
        )
        .orderBy("rowtime", "event_id")
    )
    rows = ev.collect()
    replay = str(tmp_path / "replay_vals")
    chunk = (len(rows) + 4) // 5
    for i in range(5):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                f"{replay}/chunk={i:02d}"
            )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(replay + "/chunk=*")
    )
    result = count_windows_stream(stream, size=100)
    sink = DuckDBUpsertSink(
        str(tmp_path / "sink_cw.duckdb"),
        "count_windows",
        ["railway_class", "window_id"],
        "railway_class VARCHAR, window_id BIGINT, railway_class_count BIGINT, sum_value DOUBLE",
    )
    _run(spark, result, sink, str(tmp_path / "ckpt_cw"))

    cols, got = sink.read_all()
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_id")]): (
            r[cols.index("railway_class_count")],
            r[cols.index("sum_value")],
        )
        for r in got
    }
    from kda_flink_demo_spark.registry import queries

    batch = queries()["count_windows_100"](spark, SF_DIR)
    expected = {
        (r.railway_class, r.window_id): (r.railway_class_count, r.sum_value)
        for r in batch.collect()
        if r.railway_class_count == 100  # full windows only
    }
    assert got_map, "stream should close at least one window"
    assert got_map == expected


def test_streaming_ingest_dedup_matches_batch(spark, tmp_path):
    """Stream-static anti join (incremental-ingest exact dedup): replaying the
    incoming batch as a file stream against the static corpus index must emit
    exactly the batch anti-join's surviving doc_ids."""
    from kda_flink_demo_spark.operators.llm.dedup import ingest_dedup_against_corpus

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    recrawl = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10000)
    )
    incoming = docs.filter(F.col("doc_id") >= 400).unionByName(recrawl)

    replay = tmp_path / "incoming"
    replay.mkdir()
    # three arrival chunks, duplicates interleaved with genuinely-new docs
    rows = incoming.collect()
    for i in range(3):
        spark.createDataFrame(rows[i::3], incoming.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(replay / f"chunk{i}"))

    stream = (
        spark.readStream.format("parquet")
        .schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(replay) + "/chunk*")
    )
    got = set()

    def sink(batch_df, batch_id):
        got.update(r.doc_id for r in batch_df.select("doc_id").collect())

    q = (
        ingest_dedup_against_corpus(stream, corpus)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    expected = {
        r.doc_id for r in ingest_dedup_against_corpus(incoming, corpus).select("doc_id").collect()
    }
    assert expected, "fixture must leave survivors"
    assert got == expected
    # every planted re-crawl was dropped
    assert not any(i >= 10000 for i in got)




def test_drop_duplicates_within_watermark_invariants(spark, tmp_path):
    """Streaming twin of operators/event_dedup.interval_dedup: replay dense
    per-key arrivals through ``dropDuplicatesWithinWatermark`` (the watermark
    delay is the dedup horizon) and assert the contract that survives
    arbitrary within-batch processing order:
    (1) no two kept arrivals of a key are within the delay of each other —
        every kept arrival resets the key's expiry to ts+delay and a later
        keep must exceed it, so kept timestamps form a chain with gaps > delay;
    (2) every key keeps at least one arrival;
    (3) per key, the stream keeps AT MOST as many as the batch greedy chain —
        earliest-anchor greedy is the maximal such chain, any processing
        order yields a subchain-sized set."""
    import datetime as dt
    import glob
    import shutil

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.event_dedup import interval_dedup

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid in (1, 2):
        for et in ("click", "view"):
            for s in (0, 60, 120, 301, 302, 500, 700, 1000, 1302, 1400):
                rows.append((eid, uid, et, base + dt.timedelta(seconds=s + eid % 3)))
                eid += 1
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    # ordered replay: one file per 300 s event-time slice, one batch per file
    files_dir = tmp_path / "flat"
    files_dir.mkdir()
    for i, lo in enumerate(range(0, 1500, 300)):
        sl = df.filter(
            (F.col("ts") >= base + dt.timedelta(seconds=lo))
            & (F.col("ts") < base + dt.timedelta(seconds=lo + 300))
        )
        d = tmp_path / f"s{i:02d}"
        sl.coalesce(1).write.mode("overwrite").parquet(str(d))
        for j, f in enumerate(sorted(glob.glob(str(d / "*.parquet")))):
            shutil.copy(f, files_dir / f"f{i:02d}_{j}.parquet")

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(files_dir))
        .withWatermark("ts", "300 seconds")  # the watermark delay IS the horizon
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    got = []

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wmdedup"))
        .foreachBatch(lambda b, _i: got.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert got, "stream must emit something"

    by_key = {}
    for r in got:
        by_key.setdefault((r.user_id, r.event_type), []).append(r.ts)
    greedy = {}
    for r in interval_dedup(df, interval_sec=300).collect():
        greedy.setdefault((r.user_id, r.event_type), []).append(r.ts)

    assert set(by_key) == set(greedy)  # (2): all 4 keys represented
    for key, tss in by_key.items():
        tss.sort()
        for a, b in zip(tss, tss[1:]):  # (1): chain gaps strictly > delay
            assert (b - a).total_seconds() > 300, (key, a, b)
        assert len(tss) <= len(greedy[key])  # (3): greedy is maximal


def test_stream_stream_interval_left_outer_join_emits_nulls(spark, replay_full_dir, tmp_path):
    """LEFT OUTER stream-stream interval join: a view with no click within the
    hour must eventually emit (view_id, NULL) — but only once the watermark
    has passed its join window and evicted its state. Robust assertions that
    avoid the eviction boundary: (a) matched pairs equal the batch inner
    join; (b) every unmatched view safely past the horizon (view_ts + join
    interval + watermark delay < max event ts) has emitted its NULL row;
    (c) no view emits BOTH a match and a NULL."""
    s = _full_stream(spark, replay_full_dir)
    views = (
        s.filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "30 minutes")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    joined = views.join(
        clicks,
        (views.user_id == clicks.user_id)
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
        "leftOuter",
    ).select("view_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_attrib_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM outer_attrib_out").collect()
    got_pairs = {(r.view_id, r.click_id) for r in rows if r.click_id is not None}
    got_nulls = {r.view_id for r in rows if r.click_id is None}

    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    batch_inner = v.join(
        c,
        (v.user_id == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES")),
    )
    want_pairs = {(r.view_id, r.click_id) for r in batch_inner.collect()}
    assert got_pairs == want_pairs and len(want_pairs) > 0  # (a)

    matched_ids = {p[0] for p in want_pairs}
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as dt

    horizon = max_ts - dt.timedelta(minutes=60 + 30 + 5)  # join + wm delay + slack
    must_null = {
        r.view_id
        for r in v.collect()
        if r.view_id not in matched_ids and r.view_ts < horizon
    }
    assert must_null, "fixture should contain safely-expired unmatched views"
    assert must_null <= got_nulls  # (b)
    assert not (got_nulls & matched_ids)  # (c)


def test_streaming_fuzzy_ingest_probe_matches_batch(spark, tmp_path):
    """Streaming near-dup ingest: incoming docs replay as a file stream; each
    micro-batch probes the PREBUILT standing corpus index via foreachBatch
    (the per-batch twin of ingest_dedup_fuzzy_probe). Survivors across the
    run must equal the batch operator on the full incoming set — per-batch
    probing is exact because each batch is checked independently against the
    same static index (no cross-batch state needed for corpus-vs-batch
    dedup)."""
    import glob
    import shutil

    from pyspark.sql import types as T

    from kda_flink_demo_spark.io.sources import load_table
    from kda_flink_demo_spark.operators.llm import dedup

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = docs.filter(F.col("doc_id") >= 400).unionByName(
        docs.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + F.lit(10000))
    ).select("doc_id", "text")

    buckets, hashes = dedup.build_fuzzy_ingest_index(corpus)
    buckets = buckets.localCheckpoint()
    hashes = hashes.localCheckpoint()

    # replay the incoming batch as 4 files -> 4 micro-batches
    replay = tmp_path / "fuzzy_replay"
    replay.mkdir()
    for i in range(4):
        sl = incoming.filter(F.col("doc_id") % 4 == i).coalesce(1)
        d = tmp_path / f"part{i}"
        sl.write.mode("overwrite").parquet(str(d))
        for j, f in enumerate(sorted(glob.glob(str(d / "*.parquet")))):
            shutil.copy(f, replay / f"f{i}_{j}.parquet")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    survivors = []

    def probe_batch(batch_df, _batch_id):
        out = dedup.ingest_dedup_fuzzy_probe(batch_df, buckets, hashes).select("doc_id")
        survivors.extend(r.doc_id for r in out.collect())

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(replay))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fuzzy_ingest"))
        .foreachBatch(probe_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = {
        r.doc_id for r in dedup.ingest_dedup_fuzzy(incoming, corpus).select("doc_id").collect()
    }
    assert sorted(survivors) == sorted(want)
    assert len(survivors) == len(set(survivors))  # each doc decided exactly once


@pytest.fixture(scope="module")
def replay_dir_anomaly(spark, tmp_path_factory):
    """events with value, globally ordered by (ts, event_id) — the batch
    operator's tie-break — chunked into 5 in-order files so the stream's
    arrival order equals the batch frame order."""
    out = str(tmp_path_factory.mktemp("events_anomaly_replay"))
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "event_type", "ts", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.collect()
    chunk = (len(rows) + 4) // 5
    for i in range(5):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                f"{out}/chunk={i:02d}"
            )
    return out


def test_streaming_anomaly_zscore_matches_batch_exactly(
    spark, replay_dir_anomaly, tmp_path
):
    """The O(1)-state streaming z-score must equal the batch operator
    BIT-EXACTLY on an in-order replay — the state stores running cumulative
    sums continuing WindowExec's left-to-right accumulation, so every double
    (mean, var, rounded z) is the same double."""
    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.over_windows import anomaly_zscore
    from kda_flink_demo_spark.streaming.anomaly_state import anomaly_zscore_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(replay_dir_anomaly + "/chunk=*")
    )
    sink = DuckDBUpsertSink(
        str(tmp_path / "anom.duckdb"),
        "anomalies",
        ["event_id"],
        "event_id BIGINT, event_type VARCHAR, ts TIMESTAMP, value DOUBLE, zscore DOUBLE",
    )
    _run(spark, anomaly_zscore_stream(stream), sink, str(tmp_path / "ckpt_anom"))

    cols, got = sink.read_all()
    batch = anomaly_zscore(load_table(spark, SF_DIR, "events"))
    expected = {r.event_id: (r.event_type, r.value, r.zscore) for r in batch.collect()}
    got_map = {
        r[cols.index("event_id")]: (
            r[cols.index("event_type")],
            r[cols.index("value")],
            r[cols.index("zscore")],
        )
        for r in got
    }
    assert got_map == expected


def test_streaming_anomaly_state_survives_crash_recovery(
    spark, replay_dir_anomaly, tmp_path
):
    """Custom-stateful exactly-once: kill the anomaly query after ≥1 committed
    micro-batch, restart from the checkpoint, drain — the recovered
    applyInPandasWithState ring state must continue the cumulative sums so the
    final sink still equals the batch operator EXACTLY (a lost or replayed
    state update would shift every downstream frame's sums)."""
    import time

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.over_windows import anomaly_zscore
    from kda_flink_demo_spark.streaming.anomaly_state import anomaly_zscore_stream

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def stream():
        return (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(replay_dir_anomaly + "/chunk=*")
        )

    sink = DuckDBUpsertSink(
        str(tmp_path / "anom_crash.duckdb"),
        "anomalies",
        ["event_id"],
        "event_id BIGINT, event_type VARCHAR, ts TIMESTAMP, value DOUBLE, zscore DOUBLE",
    )
    ckpt = str(tmp_path / "anom_crash_ckpt")

    q = (
        anomaly_zscore_stream(stream())
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.5)
    q.stop()

    q2 = jobs.run_to_sink(anomaly_zscore_stream(stream()), sink, ckpt)
    q2.awaitTermination(300)
    cols, got = sink.read_all()

    batch = anomaly_zscore(load_table(spark, SF_DIR, "events"))
    expected = {r.event_id: (r.event_type, r.value, r.zscore) for r in batch.collect()}
    got_map = {
        r[cols.index("event_id")]: (
            r[cols.index("event_type")],
            r[cols.index("value")],
            r[cols.index("zscore")],
        )
        for r in got
    }
    assert got_map == expected


def test_streaming_bloom_ingest_probe_matches_batch(spark, tmp_path):
    """Streaming exact ingest dedup on the Bloom standing index: incoming docs
    replay as a file stream, each micro-batch probes the PREBUILT word table +
    corpus hash projection via foreachBatch. Survivors across the run must
    equal the one-shot batch anti join on the full incoming set."""
    import glob
    import shutil

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.llm import dedup

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    incoming = (
        docs.filter(F.col("doc_id") >= 400)
        .unionByName(
            docs.filter(F.col("doc_id") < 50).withColumn(
                "doc_id", F.col("doc_id") + F.lit(10000)
            )
        )
        .select("doc_id", "text")
    )

    bloom = dedup.bloom_build(corpus).localCheckpoint()
    corpus_hashes = corpus.select(F.xxhash64(F.col("text")).alias("_h")).localCheckpoint()

    replay = tmp_path / "bloom_replay"
    replay.mkdir()
    for i in range(4):
        sl = incoming.filter(F.col("doc_id") % 4 == i).coalesce(1)
        d = tmp_path / f"bpart{i}"
        sl.write.mode("overwrite").parquet(str(d))
        for j, f in enumerate(sorted(glob.glob(str(d / "*.parquet")))):
            shutil.copy(f, replay / f"f{i}_{j}.parquet")

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    survivors = []

    def probe_batch(batch_df, _batch_id):
        out = dedup.ingest_dedup_bloom_probe(batch_df, bloom, corpus_hashes).select(
            "doc_id"
        )
        survivors.extend(r.doc_id for r in out.collect())

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(replay))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom_ingest"))
        .foreachBatch(probe_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    expected = {
        r.doc_id
        for r in dedup.ingest_dedup_against_corpus(incoming, corpus).select("doc_id").collect()
    }
    assert sorted(survivors) == sorted(expected)


def test_streaming_sketch_store_equals_one_pass(spark, tmp_path):
    """Streaming sketch maintenance: fold each micro-batch into the standing
    per-key sketch store; after the replay the store's report must equal the
    one-pass batch sketch BIT-EXACTLY (HLL/Theta unions are associative and
    commutative), including after a duplicate-batch replay (idempotent merge)."""
    import glob
    import shutil

    from pyspark.sql import types as T

    from kda_flink_demo_spark.operators.sketches import (
        sketch_report,
        sketch_state,
        update_sketch_store,
    )

    ev_src = load_table(spark, SF_DIR, "events").select("event_id", "event_type", "user_id")
    replay = tmp_path / "sketch_replay"
    replay.mkdir()
    for i in range(4):
        d = tmp_path / f"spart{i}"
        ev_src.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        for j, f in enumerate(sorted(glob.glob(str(d / "*.parquet")))):
            shutil.copy(f, replay / f"f{i}_{j}.parquet")

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    store = str(tmp_path / "sketch_store")
    seen_batches = []

    def fold(batch_df, batch_id):
        update_sketch_store(batch_df, store)
        seen_batches.append(batch_id)

    q = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(replay))
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sketch"))
        .foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(seen_batches) >= 2  # actually replayed incrementally

    canon = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    got = canon(sketch_report(spark.read.parquet(store)))
    ev = load_table(spark, SF_DIR, "events")
    expected = canon(sketch_report(sketch_state(ev)))
    assert got == expected

    # replaying an already-folded slice must not change the state (idempotent)
    update_sketch_store(ev.filter(F.col("event_id") % 5 == 0), store)
    assert canon(sketch_report(spark.read.parquet(store))) == expected


def test_streaming_session_windows_match_batch(spark, replay_dir, tmp_path):
    """W6 streaming twin: closed sessions emitted by the streaming
    session_window aggregate must equal the batch session values; sessions
    still open at end of replay stay in state (append-mode semantics)."""
    from kda_flink_demo_spark.operators.windows import session_counts

    sink = DuckDBUpsertSink(
        str(tmp_path / "sess.duckdb"),
        "sessions",
        jobs.TUMBLING_SINK_KEYS,
        jobs.TUMBLING_SINK_SCHEMA,
    )
    result = jobs.job_session(_stream(spark, replay_dir), gap="5 minutes")
    _run(spark, result, sink, str(tmp_path / "ckpt_sess"))

    cols, got = sink.read_all()
    batch = session_counts(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("railway_class"), F.col("ts").alias("rowtime")
        ),
        gap="5 minutes",
    )
    expected = {
        (r.railway_class, r.window_start, r.window_end): r.railway_class_count
        for r in batch.collect()
    }
    got_map = {
        (r[cols.index("railway_class")], r[cols.index("window_start")], r[cols.index("window_end")]):
        r[cols.index("railway_class_count")]
        for r in got
    }
    assert got_map, "stream should close at least one session"
    # every emitted (closed) session must match its batch twin exactly, and
    # only the per-key final (still-open) sessions may be missing
    n_keys = len({k[0] for k in expected})
    assert len(got_map) >= len(expected) - n_keys
    for k, v in got_map.items():
        assert expected[k] == v, f"session {k}: stream={v} batch={expected[k]}"


def test_streaming_interval_join_matches_batch_exactly(spark, tmp_path):
    """Stream-stream interval join: with watermark delay = join bound, no
    in-bound partner is ever evicted early, so the bounded-replay inner join
    equals the batch join EXACTLY (not just on an intersection)."""
    from pyspark.sql import types as T

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "event_type", "ts")
    rows = ev.orderBy("ts").collect()
    out = str(tmp_path / "events_replay")
    chunk = max(1, len(rows) // 4)
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk] if i < 3 else rows[3 * chunk :]
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                f"{out}/chunk={i:02d}"
            )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def _src():
        return (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(out + "/chunk=*")
        )

    bound = 1800
    stream_result = jobs.job_interval_join(
        _src().filter(F.col("event_type") == "view"),
        _src().filter(F.col("event_type") == "purchase"),
        bound_seconds=bound,
    )
    collected = []

    def sink(batch_df, _bid):
        collected.extend(tuple(r) for r in batch_df.collect())

    q = (
        stream_result.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    batch = jobs.job_interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        bound_seconds=bound,
    )
    expected = sorted(tuple(r) for r in batch.collect())
    assert len(expected) > 0, "fixture must produce at least one join match"
    assert sorted(collected) == expected


def test_streaming_dedup_drops_replayed_duplicates_exactly(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): a replay where
    each chunk re-emits the tail of the previous one (at-least-once
    redelivery) must yield EXACTLY the batch dropDuplicates result — one copy
    per event_id, first-seen values — because every duplicate arrives inside
    the dedup horizon."""
    from pyspark.sql import types as T

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.col("event_type").alias("railway_class"),
                F.col("ts").alias("rowtime"))
        .orderBy("rowtime")
    )
    rows = ev.collect()
    out = str(tmp_path / "dup_replay")
    n = len(rows)
    chunk = (n + 3) // 4
    overlap = 25
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if i > 0:  # redeliver the previous chunk's tail
            part = rows[max(0, i * chunk - overlap) : i * chunk] + part
        if part:
            spark.createDataFrame(part, ev.schema).coalesce(1).write.parquet(
                f"{out}/chunk={i:02d}"
            )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("railway_class", T.StringType()),
            T.StructField("rowtime", T.TimestampType()),
        ]
    )
    src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(out + "/chunk=*")
    )
    result = jobs.job_dedup(src, keys=("event_id",), delay="48 hours")
    collected = []

    def sink(batch_df, _bid):
        collected.extend(tuple(r) for r in batch_df.collect())

    q = (
        result.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    expected = sorted(tuple(r) for r in rows)  # fixture event_ids are unique
    assert len(collected) == len(expected), "a duplicate survived or a row was lost"
    assert sorted(collected) == expected
