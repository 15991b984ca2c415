"""Structured Streaming runner tests (SURVEY.md §2.10 streaming half).

The batch event-time queries are the graded face; these tests prove
the SAME transformations execute under readStream — tumbling window
with watermark, streaming dedup, and the custom-stateful #133 path
(applyInPandasWithState) against its batch applyInPandas twin.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparketl.streaming.runner import (
    SESSION_OUT_SCHEMA,
    read_events_stream,
    run_available_now,
    sessionize_pandas,
    stage_events_dir,
    stateful_sessions_stream,
)
from sparketl.tables import table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    scratch = tmp_path_factory.mktemp("stream")
    return stage_events_dir(SF_DIR, str(scratch))


def test_tumbling_window_stream_equals_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "event_type", "n")
    )
    got = {
        (r.w, r.event_type): r.n
        for r in run_available_now(agg, output_mode="complete").collect()
    }
    ev = table(spark, SF_DIR, "events")
    want = {
        (r.w, r.event_type): r.n
        for r in ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "event_type", "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    dedup = stream.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    got = run_available_now(dedup, output_mode="append").count()
    want = table(spark, SF_DIR, "events").dropDuplicates(["event_id"]).count()
    assert got == want > 0


def test_stateful_sessions_stream_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(
        stateful_sessions_stream(stream), output_mode="append"
    )
    ev = table(spark, SF_DIR, "events")
    want = (
        ev.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandas(
            lambda pdf: sessionize_pandas(pdf), schema=got.schema
        )
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows == want_rows and len(got_rows) > 0


def test_stateful_sessions_multibatch_upsert_matches_batch(spark, tmp_path):
    """#133 across MICRO-BATCH boundaries (the round-1 ADVICE bug):
    time-split the events into 3 files → 3 batches, so sessions span
    batches.  The operator emits an upsert stream keyed by
    (user_id, session_id); keeping the latest (cumulative) row per key
    must reproduce the batch sessionization exactly — including
    session_start/n_events/duration of sessions that straddle a batch
    boundary, which the old state (no open-session totals) got wrong."""
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_DIR}/events.parquet")
    src = src.take(pc.sort_indices(src.column("ts")))
    n, third = len(src), len(src) // 3
    d = tmp_path / "mb_in"
    d.mkdir()
    now = _time.time()
    for i, (lo, hi) in enumerate([(0, third), (third, 2 * third), (2 * third, n)]):
        f = d / f"00{i}.parquet"
        pq.write_table(src.slice(lo, hi - lo), f)
        os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))

    stream = read_events_stream(spark, str(d))
    out = run_available_now(
        stateful_sessions_stream(stream), output_mode="append"
    ).collect()

    # upsert contract: later emissions for a key are cumulative (higher
    # n_events), so the final row per key is the max-n_events one
    last = {}
    for r in out:
        k = (r.user_id, r.session_id)
        if k not in last or r.n_events >= last[k].n_events:
            last[k] = r
    got = {tuple(r) for r in last.values()}

    ev = table(spark, SF_DIR, "events")
    want_df = (
        ev.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandas(lambda pdf: sessionize_pandas(pdf), schema=SESSION_OUT_SCHEMA)
    )
    want = {tuple(r) for r in want_df.collect()}
    assert got == want and len(got) > 0
    # upsert invariant: a session spanning a batch boundary is re-emitted
    # with updated totals, so extra emissions exist exactly when some key
    # appears more than once.  (Guarded, not assumed: whether the 3-way
    # time split produces a spanning session depends on the fixture.)
    keys = [(r.user_id, r.session_id) for r in out]
    if len(out) > len(got):
        assert len(keys) > len(set(keys))
    else:
        assert len(keys) == len(set(keys))


def test_sliding_window_stream_equals_batch(spark, events_dir):
    from sparketl.streaming.runner import read_events_stream

    stream = read_events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "n")
    )
    got = {
        (r.w, r.n) for r in run_available_now(agg, output_mode="complete").collect()
    }
    ev = table(spark, SF_DIR, "events")
    want = {
        (r.w, r.n)
        for r in ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_transform_with_state_running_totals(spark, events_dir):
    """#133 via the Spark 4.x StatefulProcessor API: final per-key
    running totals equal the batch aggregation."""
    from sparketl.streaming.runner import (
        HAS_TRANSFORM_WITH_STATE,
        read_events_stream,
        running_totals_stream,
    )

    if not HAS_TRANSFORM_WITH_STATE:
        pytest.skip("transformWithStateInPandas unavailable")
    stream = read_events_stream(spark, events_dir)
    out = run_available_now(
        running_totals_stream(stream), output_mode="update"
    )
    # last update per key == final running total
    got = {
        r.event_type: (r.n, r.cents)
        for r in out.orderBy("n").collect()  # later updates have larger n
    }
    ev = table(spark, SF_DIR, "events")
    want = {
        r.event_type: (r.n, r.cents)
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """#131 live: batch 0 = recent events (sets the watermark), batch 1
    commits it, batch 2 = only-late events.  Spark's watermark commit
    lags one batch, so the late batch runs with the recent watermark
    active: its rows are dropped (metric-visible) and nothing late is
    emitted — every emitted (window, count) comes from the recent data
    alone."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_DIR}/events.parquet")
    ts_i = pc.cast(src.column("ts"), pa.int64())  # epoch in the col's unit
    ts_type = src.column("ts").type
    unit_per_s = (
        {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts_type.unit]
        if pa.types.is_timestamp(ts_type)
        else 10**9  # legacy fixtures: int64 nanos
    )
    lo, hi = pc.min(ts_i).as_py(), pc.max(ts_i).as_py()
    cutoff = lo + (hi - lo) * 2 // 3
    gap = 3600 * unit_per_s  # 1h dead zone between late and recent
    recent = src.filter(pc.greater_equal(ts_i, cutoff))
    late = src.filter(pc.less(ts_i, cutoff - gap))
    assert len(recent) > 0 and len(late) > 0

    d = tmp_path / "late_in"
    d.mkdir()
    pq.write_table(recent, d / "000-recent.parquet")
    pq.write_table(recent.slice(0, 5), d / "001-commit.parquet")
    pq.write_table(late, d / "002-late.parquet")
    now = _time.time()
    os.utime(d / "000-recent.parquet", (now - 300, now - 300))
    os.utime(d / "001-commit.parquet", (now - 150, now - 150))

    stream = read_events_stream(spark, str(d))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_late_drop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    emitted = {(r.w, r.n) for r in spark.table("wm_late_drop").collect()}
    assert emitted, "no window finalized"

    # the late batch ran with an active watermark and dropped rows
    late_batches = [p for p in progress if p["batchId"] == 2]
    assert late_batches, [p["batchId"] for p in progress]
    dropped = late_batches[0]["stateOperators"][0]["numRowsDroppedByWatermark"]
    assert dropped > 0, late_batches[0]
    assert late_batches[0]["sink"]["numOutputRows"] == 0

    # nothing late leaked: emitted windows come from recent data alone
    from sparketl.tables import normalize_events_ts

    recent_only = (
        normalize_events_ts(spark.read.parquet(str(d / "000-recent.parquet")))
        .unionByName(
            normalize_events_ts(spark.read.parquet(str(d / "001-commit.parquet")))
        )
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w"), "n")
    )
    want = {(r.w, r.n) for r in recent_only.collect()}
    assert emitted <= want, sorted(emitted - want)[:5]


def test_stateful_sessionize_out_of_order_merge_keeps_open_end():
    """Regression: a batch whose events are all OLDER than the open
    session's last event (out-of-order arrival within the gap) must not
    shrink the already-emitted session_end/duration, and the state's
    gap anchor must stay monotone."""
    import pandas as pd

    from sparketl.streaming.runner import SESSION_GAP_MIN, _sessionize_stateful

    class _StubState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    state = _StubState()
    t0 = pd.Timestamp("2024-01-01 12:00:00")
    gap = pd.Timedelta(minutes=SESSION_GAP_MIN)

    # batch 1: two in-order events, open session ends at t0 + 2min
    b1 = pd.DataFrame({"ts": [t0, t0 + pd.Timedelta(minutes=2)]})
    out1 = pd.concat(list(_sessionize_stateful(("u1",), iter([b1]), state)))
    assert len(out1) == 1
    end1 = out1["session_end"].iloc[0]

    # batch 2: one event BETWEEN the two batch-1 events (late arrival,
    # within the gap of the open session)
    b2 = pd.DataFrame({"ts": [t0 + pd.Timedelta(minutes=1)]})
    out2 = pd.concat(list(_sessionize_stateful(("u1",), iter([b2]), state)))
    assert len(out2) == 1
    row = out2.iloc[0]
    assert row["session_id"] == out1["session_id"].iloc[0]
    assert row["session_end"] == end1, "merge must carry the open end forward"
    assert row["n_events"] == 3
    assert row["duration_us"] == 2 * 60 * 1_000_000

    # state anchor did not move backwards: a third event gap-minutes
    # after the TRUE end starts a NEW session (would wrongly merge if
    # last_ts_us had regressed to the late event)
    t3 = t0 + pd.Timedelta(minutes=2) + gap + pd.Timedelta(seconds=1)
    b3 = pd.DataFrame({"ts": [t3]})
    out3 = pd.concat(list(_sessionize_stateful(("u1",), iter([b3]), state)))
    assert out3["session_id"].iloc[0] == row["session_id"] + 1


def test_normalize_events_ts_handles_both_fixture_generations(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (pre-r4,
    long-nanos under nanosAsLong) and as native timestamp[us] (r4).
    Opened the loader's way, normalize_events_ts must yield the
    identical session-tz TIMESTAMP values for the same instants through
    either physical layout, and through plain int64 nanos."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparketl.tables import normalize_events_ts, read_parquet

    us = [1_704_067_200_000_000, 1_704_067_260_123_456]  # 2024-01-01 UTC
    files = {
        "int64": pa.array([u * 1000 for u in us], pa.int64()),
        "nanos": pa.array([u * 1000 for u in us], pa.timestamp("ns")),
        "us": pa.array(us, pa.timestamp("us")),
    }
    got = {}
    for kind, arr in files.items():
        path = str(tmp_path / f"ev_{kind}.parquet")
        pq.write_table(pa.table({"ts": arr}), path)
        df = read_parquet(spark, path)
        assert df.schema == spark.read.parquet(path).schema
        if kind == "nanos":  # TIMESTAMP(NANOS) loads as bigint under nanosAsLong
            assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
            assert dict(df.dtypes)["ts"] == "bigint"
        got[kind] = [r.ts for r in normalize_events_ts(df).orderBy("ts").collect()]
    got_ns, got_us = got["nanos"], got["us"]
    assert got["int64"] == got_ns == got_us
    assert got_ns[0].isoformat() == "2024-01-01T00:00:00"
    assert got_ns[1].microsecond == 123456


def test_rate_kafka_stream_live(spark):
    """Kafka-shaped shim, LIVE: the rate source mapped to the exact
    Kafka wire schema, consumed through the standard from_json pattern
    under a real unbounded streaming query (no broker in container)."""
    import time as _time

    from sparketl.streaming.kafka_shim import (
        N_TOPIC_PARTITIONS,
        parse_kafka_events,
        read_rate_kafka_stream,
    )

    rec = read_rate_kafka_stream(spark, rows_per_second=500)
    assert rec.isStreaming
    # wire schema must match format("kafka") exactly — that is what
    # makes the shim swappable for the real connector
    assert [(f.name, f.dataType.simpleString()) for f in rec.schema.fields] == [
        ("key", "binary"),
        ("value", "binary"),
        ("topic", "string"),
        ("partition", "int"),
        ("offset", "bigint"),
        ("timestamp", "timestamp"),
        ("timestampType", "int"),
    ]

    q = (
        parse_kafka_events(rec)
        .writeStream.format("memory")
        .queryName("rate_kafka_live")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table("rate_kafka_live").count() >= 100:
                break
            _time.sleep(0.5)
    finally:
        q.stop()

    rows = spark.table("rate_kafka_live").collect()
    assert len(rows) >= 100, len(rows)
    for r in rows:
        # keyed-producer invariant survives the round trip
        assert r.kafka_partition == r.user_id % N_TOPIC_PARTITIONS
        assert r.event_type in ("click", "view", "purchase")
        # doubles are bit-exact through the JSON value codec
        assert r.value == r.event_id * 0.25
        assert r.ts is not None and r.props == '{"src":"rate"}'


def test_stream_stream_join_live(spark, events_dir):
    """#134/stream_stream_join: the LIVE two-readStream interval join —
    views and clicks as separate watermarked streams, clicks attributed
    to the same user's views of the preceding 10 minutes, compared
    row-for-row against the batch face (registry: stream_stream_join)."""
    from sparketl import registry

    views = (
        read_events_stream(spark, events_dir)
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        read_events_stream(spark, events_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("interval 10 minutes")),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))).alias(
            "lag_us"
        ),
    )
    got = {
        (r.user_id, r.view_id, r.click_id, r.lag_us)
        for r in run_available_now(joined).collect()
    }
    want = {
        (r.user_id, r.view_id, r.click_id, r.lag_us)
        for r in registry.QUERIES["stream_stream_join"](spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def _stage_time_split(tmp_path, n_files: int = 4) -> str:
    """Stage events as n_files time-ordered parquet files (ts quantile
    split, ascending mtimes) so a maxFilesPerTrigger=1 stream processes
    them as successive micro-batches with a monotonically advancing
    watermark — the live multi-batch shape, vs the single-batch
    complete-mode tests above."""
    import time as _time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_DIR}/events.parquet")
    ts_i = pc.cast(src.column("ts"), pa.int64())
    lo, hi = pc.min(ts_i).as_py(), pc.max(ts_i).as_py()
    d = tmp_path / "live_in"
    d.mkdir()
    now = _time.time()
    for k in range(n_files):
        a = lo + (hi - lo) * k // n_files
        b = lo + (hi - lo) * (k + 1) // n_files if k < n_files - 1 else hi + 1
        chunk = src.filter(
            pc.and_(pc.greater_equal(ts_i, a), pc.less(ts_i, b))
        )
        assert len(chunk) > 0
        f = d / f"{k:03d}.parquet"
        pq.write_table(chunk, f)
        os.utime(f, (now - 600 + 60 * k, now - 600 + 60 * k))
    return str(d)


def _final_watermark(query):
    """Parse the last progress's event-time watermark into a naive UTC
    datetime (the same representation collect() gives under the
    session's UTC timezone)."""
    from datetime import datetime, timezone

    wm = query.lastProgress["eventTime"]["watermark"]
    return (
        datetime.fromisoformat(wm.replace("Z", "+00:00"))
        .astimezone(timezone.utc)
        .replace(tzinfo=None)
    )


def test_sliding_window_live_append_multibatch(spark, tmp_path):
    """#129 LIVE: sliding windows under append mode across 4 real
    micro-batches.  Append only emits a window once the watermark
    passes its end, so the finalized set must equal the batch result
    restricted to windows below the final watermark — and be a STRICT
    subset of the full batch result (proving rows were genuinely held
    back in state, which complete-mode single-batch runs never test)."""
    d = _stage_time_split(tmp_path)
    stream = read_events_stream(spark, d)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("w"),
            F.col("window.end").alias("w_end"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_live")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    wm = _final_watermark(q)
    got = {(r.w, r.w_end, r.n) for r in spark.table("slide_live").collect()}

    ev = table(spark, SF_DIR, "events")
    full = {
        (r.w, r.w_end, r.n)
        for r in ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("w"),
            F.col("window.end").alias("w_end"),
            "n",
        )
        .collect()
    }
    finalized = {row for row in full if row[1] <= wm}
    assert got == finalized
    assert got and got < full  # some windows held back in state


def test_session_window_live_append_multibatch(spark, tmp_path):
    """#130 LIVE: native session_window under append mode across real
    micro-batches — sessions merge across batch boundaries in state
    and only emit once the watermark passes their end."""
    d = _stage_time_split(tmp_path)
    stream = read_events_stream(spark, d)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_live")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wm = _final_watermark(q)
    got = {
        (r.user_id, r.s, r.e, r.n) for r in spark.table("sess_live").collect()
    }
    ev = table(spark, SF_DIR, "events")
    full = {
        (r.user_id, r.s, r.e, r.n)
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .collect()
    }
    finalized = {row for row in full if row[2] <= wm}
    assert got == finalized
    assert got and got < full


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming face of llm_dedup_incremental (round-7): the new-doc
    batch lands as TWO micro-batch files, the second REDELIVERING a
    slice of the first (at-least-once delivery).  Layer 1 (stream-
    static anti join vs the standing corpus) must reproduce the batch
    face's signature set exactly; layer 2 (stateful dropDuplicates on
    the content hash) must emit each surviving hash exactly once even
    though redeliveries cross the micro-batch boundary."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparketl.operators.curation import llm_dedup_incremental
    from sparketl.streaming.runner import incremental_dedup_stream

    src = pq.read_table(f"{SF_DIR}/documents.parquet")
    # _EXISTING_PRED is doc_id % 10 < 8; the new batch is the rest
    ids = src.column("doc_id").to_pylist()
    new_tbl = src.filter(pa.array([i % 10 >= 8 for i in ids]))
    assert len(new_tbl) > 8
    half = len(new_tbl) // 2
    d = tmp_path / "docs_in"
    d.mkdir()
    now = _time.time()
    pq.write_table(new_tbl.slice(0, half), d / "000.parquet")
    # second file: the rest PLUS a redelivered slice of the first PLUS
    # two DISTINCT planted docs sharing novel text — the batch face
    # keeps both (it only anti-joins the standing corpus), so the
    # stream must too (round-7 review: a bare-content-hash dedup key
    # collapsed them to one arrival-order survivor)
    planted = pa.table(
        {
            "doc_id": pa.array([10_000_001, 10_000_002], pa.int64()),
            "text": pa.array(["planted twin text"] * 2),
            "lang": pa.array(["en", "de"]),
            "source": pa.array(["web", "web"]),
            "n_chars": pa.array([17, 17], pa.int64()),
        }
    )
    redelivered = pa.concat_tables(
        [new_tbl.slice(half), new_tbl.slice(0, max(1, half // 4)), planted]
    )
    pq.write_table(redelivered, d / "001.parquet")
    os.utime(d / "000.parquet", (now - 200, now - 200))
    os.utime(d / "001.parquet", (now - 100, now - 100))

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    standing = table(spark, SF_DIR, "documents").where("doc_id % 10 < 8")
    out = run_available_now(
        incremental_dedup_stream(stream, standing)
    ).collect()

    got_rows = [(r.doc_id, r.text_md5) for r in out]
    # layer 2: each DOC exactly once despite cross-batch redelivery
    assert len(got_rows) == len(set(got_rows))
    # full row-level parity with the batch face (round-7 review: a
    # hash-set compare masked the bare-hash dedup collapsing distinct
    # same-text docs — the batch face keeps both, so must the stream)
    import hashlib

    twin_md5 = hashlib.md5(b"planted twin text").hexdigest()
    want_rows = {
        (r.doc_id, r.text_md5)
        for r in llm_dedup_incremental(spark, SF_DIR).collect()
    } | {(10_000_001, twin_md5), (10_000_002, twin_md5)}
    assert set(got_rows) == want_rows and len(want_rows) > 2


def test_quality_gate_stream_matches_batch(spark, tmp_path):
    """Streaming face of llm_quality_classifier (round-7): documents
    land as TWO real micro-batch files; the streamed gate's verdicts
    must equal the batch face's keep-set exactly (the scorer is a
    stateless narrow map, so stream == batch is the whole contract —
    this proves it holds across an actual micro-batch boundary, not
    just on paper)."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparketl.operators.curation import llm_quality_classifier
    from sparketl.streaming.runner import quality_gate_stream

    src = pq.read_table(f"{SF_DIR}/documents.parquet")
    half = len(src) // 2
    d = tmp_path / "docs_in"
    d.mkdir()
    now = _time.time()
    pq.write_table(src.slice(0, half), d / "000.parquet")
    pq.write_table(src.slice(half), d / "001.parquet")
    os.utime(d / "000.parquet", (now - 200, now - 200))
    os.utime(d / "001.parquet", (now - 100, now - 100))

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = run_available_now(quality_gate_stream(stream)).collect()

    got = {(r.doc_id, r.raw_score, r.score, r.keep) for r in out}
    want = {
        (r.doc_id, r.raw_score, r.score, r.keep)
        for r in llm_quality_classifier(spark, SF_DIR).collect()
        if r.keep
    }
    assert got == want and len(want) > 0
    # the gate dropped the negative-score docs (non-vacuous filter)
    assert len(out) < len(src)


def test_bounded_dedup_stream_state_plateaus_under_watermark(spark, tmp_path):
    """incremental_dedup_stream_bounded (round 9): three live
    micro-batches — batch 1 redelivers a slice of batch 0 (must be
    dropped: its keys are still inside the watermark window), batch 2
    arrives 2h later so the event-time watermark passes batch 0's
    ingest_ts + delay and Spark EVICTS those keys.  Asserts BOTH the
    exactly-once output and the state-row PLATEAU: total state after
    batch 2 is ~batch-1+batch-2 keys, strictly below the all-arrived-
    identities count the unbounded twin would hold."""
    import json as _json
    import time as _time
    import uuid as _uuid

    import pandas as pd

    from sparketl.streaming.runner import incremental_dedup_stream_bounded

    t0 = pd.Timestamp("2024-03-01 00:00:00")
    n = 20

    def mk(ids, ts):
        return pd.DataFrame(
            {
                "doc_id": pd.array(ids, dtype="int64"),
                "text": [f"bounded dedup doc {i}" for i in ids],
                "lang": ["en"] * len(ids),
                # [us] precision: Spark reads parquet timestamp_ns as
                # bigint, not TIMESTAMP
                "ingest_ts": pd.Series([ts] * len(ids)).astype("datetime64[us]"),
            }
        )

    d = tmp_path / "docs_in"
    d.mkdir()
    now = _time.time()
    b0 = mk(range(n), t0)
    # batch 1: n fresh docs + a redelivery of 5 batch-0 docs (same
    # doc_id AND same text => same dedup key, later ingest_ts)
    b1 = pd.concat([mk(range(n, 2 * n), t0 + pd.Timedelta("2h")),
                    mk(range(5), t0 + pd.Timedelta("2h"))])
    b2 = mk([9999], t0 + pd.Timedelta("4h"))
    for i, b in enumerate((b0, b1, b2)):
        p = d / f"{i:03d}.parquet"
        b.to_parquet(p, index=False)
        os.utime(p, (now - 300 + i * 100, now - 300 + i * 100))

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    standing = spark.createDataFrame(
        [(10**9, "standing corpus text", "en")], "doc_id long, text string, lang string"
    )
    name = f"bounded_{_uuid.uuid4().hex[:8]}"
    q = (
        incremental_dedup_stream_bounded(stream, standing, delay="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).collect()

    # exactly-once: the 5 redelivered docs appear once; 2n+1 rows total
    ids = sorted(r.doc_id for r in out)
    assert ids == sorted(list(range(2 * n)) + [9999])

    # state plateau: the dedup operator's total state rows at the last
    # trigger must be far below all-arrived identities (2n+1) — batch-0
    # keys were evicted when the watermark passed t0 + delay
    totals = []
    for p in q.recentProgress:
        prog = _json.loads(p.json) if hasattr(p, "json") else p
        for op in prog.get("stateOperators", []):
            if "dedupe" in op.get("operatorName", "").lower():
                totals.append(op["numRowsTotal"])
    assert totals, "no dedupe state operator in progress"
    assert max(totals[:2]) >= n  # state grew while inside the window
    assert totals[-1] <= n + 2, totals  # batch-0 keys evicted


def test_locf_stream_matches_batch_window(spark, events_dir):
    """#154 streaming face: the stateful carry operator must equal the
    declarative IGNORE NULLS window over the same events."""
    from sparketl.streaming.runner import locf_stream
    from sparketl.registry import QUERIES

    stream = read_events_stream(spark, events_dir)
    collected = run_available_now(locf_stream(stream), output_mode="append").collect()
    got = {(r.user_id, r.event_id): r.locf_value for r in collected}
    want = {
        (r.user_id, r.event_id): r.locf_value
        for r in QUERIES["win_locf_fill"](spark, SF_DIR).collect()
    }
    # row-count BEFORE dict-ification: append mode must emit each
    # event exactly once — duplicates would collapse silently
    assert len(collected) == len(want)
    assert got == want and len(got) > 0


def test_locf_multibatch_carry_matches_batch(spark, tmp_path):
    """#154 across MICRO-BATCH boundaries: time-split the events into
    3 files -> 3 batches, so a user's observation in batch 1 must be
    carried by the STATE into batches 2-3 (rows there have no earlier
    observation inside their own batch).  The emitted stream must
    equal the batch window exactly, and the split must actually
    exercise the carry (guarded, not assumed)."""
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sparketl.streaming.runner import locf_stream
    from sparketl.registry import QUERIES

    src = pq.read_table(f"{SF_DIR}/events.parquet")
    src = src.take(
        pc.sort_indices(
            src, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    n, third = len(src), len(src) // 3
    d = tmp_path / "locf_mb"
    d.mkdir()
    now = _time.time()
    slices = [(0, third), (third, 2 * third), (2 * third, n)]
    for i, (lo, hi) in enumerate(slices):
        f = d / f"00{i}.parquet"
        pq.write_table(src.slice(lo, hi - lo), f)
        os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))

    stream = read_events_stream(spark, str(d))
    collected = run_available_now(locf_stream(stream), output_mode="append").collect()
    got = {(r.user_id, r.event_id): r.locf_value for r in collected}
    want_rows = QUERIES["win_locf_fill"](spark, SF_DIR).collect()
    want = {(r.user_id, r.event_id): r.locf_value for r in want_rows}
    assert len(collected) == len(want)  # exactly-once append emission
    assert got == want and len(got) > 0

    # the split genuinely exercises the cross-batch carry — EXACT
    # guard over the same slice boundaries the files used: simulate
    # batch-LOCAL fill (no carry) per user per slice; a row that is
    # None batch-locally but non-null in the full result was filled
    # FROM THE STATE, i.e. the carry was consulted
    batch_of = {}
    for i, (lo, hi) in enumerate(slices):
        for j in range(lo, hi):
            batch_of[
                (src.column("user_id")[j].as_py(), src.column("event_id")[j].as_py())
            ] = i
    local_seen: dict = {}
    carried_rows = 0
    for j in range(n):
        u = src.column("user_id")[j].as_py()
        e = src.column("event_id")[j].as_py()
        b = batch_of[(u, e)]
        if src.column("event_type")[j].as_py() == "purchase":
            local_seen[(u, b)] = True
        elif (u, b) not in local_seen and want[(u, e)] is not None:
            carried_rows += 1
    assert carried_rows > 0


def test_locf_stream_multichunk_groups(spark, events_dir):
    """The review-caught chunk bug, pinned live: with
    arrow.maxRecordsPerBatch=50 a ~99-event user arrives in pdf_iter
    as 2+ chunks in arbitrary order — sorting chunks independently
    (the original body) fills rows from later-chunk observations.
    The concat-whole-group body must still equal the batch window."""
    from sparketl.registry import QUERIES
    from sparketl.streaming.runner import locf_stream

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        stream = read_events_stream(spark, events_dir)
        collected = run_available_now(
            locf_stream(stream), output_mode="append"
        ).collect()
    finally:
        spark.conf.set(key, prev)
    got = {(r.user_id, r.event_id): r.locf_value for r in collected}
    want = {
        (r.user_id, r.event_id): r.locf_value
        for r in QUERIES["win_locf_fill"](spark, SF_DIR).collect()
    }
    assert len(collected) == len(want)
    assert got == want and len(got) > 0


def test_rollup_cascade_stream_hourly_sink_matches_batch(spark, tmp_path):
    """#157 LIVE (r9 verdict #8): the hourly tier runs as a
    watermarked append stream across real micro-batches into a REAL
    parquet hourly sink (not a memory table — the cascade's contract
    is re-aggregating from the sink a 24/7 deployment maintains).
    Proves (a) the streamed hourly sink equals the batch hourly rows
    restricted to finalized windows — and is a STRICT subset of the
    full batch set, so rows were genuinely held in state; (b) the
    daily cascade from the streamed sink is EXACT against a direct
    day aggregation of raw events for every fully-finalized day —
    count and integer cents, no tolerance."""
    from sparketl.streaming.runner import (
        hourly_rollup,
        read_events_stream,
        rollup_daily_from_hourly,
        rollup_hourly_stream,
    )

    d = _stage_time_split(tmp_path)
    sink = str(tmp_path / "hourly_sink")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, d)
    q = (
        rollup_hourly_stream(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    wm = _final_watermark(q)

    got_hourly = {
        (r.bucket, r.n_events, r.cents)
        for r in spark.read.parquet(sink).collect()
    }
    ev = table(spark, SF_DIR, "events")
    full_hourly = {
        (r.bucket, r.n_events, r.cents) for r in hourly_rollup(ev).collect()
    }
    from datetime import timedelta

    finalized = {row for row in full_hourly if row[0] + timedelta(hours=1) <= wm}
    # (a) stream hourly == batch hourly on finalized windows, strictly
    # fewer than the full set (late hours held back in state)
    assert got_hourly == finalized
    assert got_hourly and got_hourly < full_hourly

    # (b) cascade exactness from the STREAMED sink: every day whose
    # hours are all finalized must match a direct day aggregation of
    # the raw events bit-for-bit (count + integer cents)
    got_daily = {
        (r.bucket, r.n_events, r.cents)
        for r in rollup_daily_from_hourly(spark.read.parquet(sink)).collect()
    }
    direct_daily = {
        (r.bucket, r.n_events, r.cents)
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("bucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    open_hours = full_hourly - finalized
    complete_days = {b for b, _, _ in got_daily} - {
        h.replace(hour=0, minute=0, second=0, microsecond=0)
        for h, _, _ in open_hours
    }
    assert complete_days  # the split must finalize at least one full day
    for day in complete_days:
        g = {r for r in got_daily if r[0] == day}
        w = {r for r in direct_daily if r[0] == day}
        assert g == w, (day, g, w)


def test_dedup_stream_multibatch_matches_batch(spark, tmp_path):
    """#132 LIVE readStream lane (VERDICT r13 #8): time-split the
    events into 3 ts-ordered files -> 3 micro-batches; the first event
    per (user_id, event_type) — the batch face's row_number()=1
    survivor — is also the first ARRIVAL, so the watermarked
    dropDuplicatesWithinWatermark stream must emit exactly the batch
    face's rows, with cross-batch duplicates held off by the state
    store (the time-split guarantees later batches carry duplicates of
    keys first seen earlier — guarded below, not assumed)."""
    import time as _time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from sparketl.registry import QUERIES
    from sparketl.streaming.runner import dedup_stream

    src = pq.read_table(f"{SF_DIR}/events.parquet")
    src = src.take(
        pc.sort_indices(
            src, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
    )
    n, third = len(src), len(src) // 3
    d = tmp_path / "dedup_mb"
    d.mkdir()
    now = _time.time()
    slices = [(0, third), (third, 2 * third), (2 * third, n)]
    for i, (lo, hi) in enumerate(slices):
        f = d / f"00{i}.parquet"
        pq.write_table(src.slice(lo, hi - lo), f)
        os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))

    stream = read_events_stream(spark, str(d))
    # a generous watermark delay: every duplicate in the fixture is
    # within the delay of its key's first event, so no state eviction
    # can re-admit a key mid-test (eviction is pinned separately below)
    collected = run_available_now(
        dedup_stream(stream, delay="366 days"), output_mode="append"
    ).collect()
    got = sorted(
        (r.user_id, r.event_type, r.event_id, r.first_value)
        for r in collected
    )
    want_rows = QUERIES["stream_dedup"](spark, SF_DIR).collect()
    want = sorted(
        (r.user_id, r.event_type, r.event_id, r.first_value)
        for r in want_rows
    )
    assert len(collected) == len(want_rows)  # exactly-once emission
    assert got == want and len(got) > 0
    # the split genuinely exercises CROSS-BATCH state: some key first
    # seen in batch 0 must re-occur in a later batch (else the test
    # degenerates to single-batch dropDuplicates)
    first_batch: dict = {}
    crossed = 0
    for i, (lo, hi) in enumerate(slices):
        for j in range(lo, hi):
            k = (
                src.column("user_id")[j].as_py(),
                src.column("event_type")[j].as_py(),
            )
            if k not in first_batch:
                first_batch[k] = i
            elif first_batch[k] < i:
                crossed += 1
    assert crossed > 0


def test_dedup_stream_state_eviction_and_replay(spark, tmp_path):
    """The state BOUND of the live dedup lane, pinned like the bounded
    incremental-dedup test: a key whose event time falls delta behind
    the watermark is EVICTED (state stays O(last-delta keys) on an
    unbounded stream), and the documented trade — the key re-appearing
    AFTER eviction is re-emitted — is asserted, plus the state-row
    drop in the query's stateOperators progress."""
    import json as _json
    import time as _time
    import uuid as _uuid
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparketl.streaming.runner import dedup_stream

    base = datetime(2026, 1, 1, 12, 0, 0)

    def tab(*rs):
        return pa.table(
            {
                "user_id": pa.array([r[0] for r in rs], pa.int64()),
                "event_type": pa.array([r[1] for r in rs]),
                "event_id": pa.array([r[2] for r in rs], pa.int64()),
                "value": pa.array([float(r[3]) for r in rs], pa.float64()),
                "ts": pa.array(
                    [base + timedelta(minutes=r[4]) for r in rs],
                    pa.timestamp("us"),
                ),
            }
        )

    d = tmp_path / "dedup_evict"
    d.mkdir()
    batches = [
        # batch 0: key (1, click) first + an in-window duplicate; a
        # second key to keep state > 1 row
        tab((1, "click", 10, 1.0, 0), (1, "click", 11, 2.0, 5),
            (2, "view", 20, 3.0, 1)),
        # batch 1: advances the watermark to +30min (watermarks lag
        # one batch, and eviction runs at batch END — so batch-0 keys
        # leave the store only after batch 2 runs under that watermark)
        tab((3, "click", 30, 4.0, 40)),
        # batch 2: advances the watermark further; batch-0 keys are
        # delta (=10min) behind and evicted by this batch's end
        tab((4, "view", 40, 6.0, 70)),
        # batch 3: key (1, click) re-appears after eviction
        tab((1, "click", 12, 5.0, 90)),
    ]
    now = _time.time()
    for i, t in enumerate(batches):
        f = d / f"b{i}.parquet"
        pq.write_table(t, f)
        os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, event_id long, "
            "value double, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    name = f"dedup_ev_{_uuid.uuid4().hex[:8]}"
    q = (
        dedup_stream(stream, delay="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.event_type, r.event_id) for r in spark.table(name).collect()
    )
    # in-window duplicate (11) dropped; post-eviction re-appearance
    # (12) re-emitted — the bounded-state trade, explicit
    assert got == [
        (1, "click", 10),
        (1, "click", 12),
        (2, "view", 20),
        (3, "click", 30),
        (4, "view", 40),
    ], got
    totals = []
    for p in q.recentProgress:
        prog = _json.loads(p.json) if hasattr(p, "json") else p
        for op in prog.get("stateOperators", []):
            if "dedupe" in op.get("operatorName", "").lower():
                totals.append(op["numRowsTotal"])
    assert totals, "no dedupe state operator in progress"
    assert max(totals) >= 2  # both batch-0 keys held while in-window
    assert totals[-1] <= 3, totals  # batch-0 keys evicted by the end


def test_late_drop_stream_drops_and_finalizes(spark, tmp_path):
    """#131 LIVE lane (round 15, VERDICT r14 #8): watermarked
    tumbling-day counts across 3 real micro-batches where batch 2
    carries a row whose event time is far behind the watermark — it
    must be DROPPED (stateOperators numRowsDroppedByWatermark), the
    finalized windows must count everything EXCEPT it, and the
    finalized set must equal the batch aggregation over the on-time
    rows restricted to windows the final watermark closed."""
    import time as _time
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparketl.streaming.runner import late_drop_stream

    base = datetime(2026, 1, 1, 0, 0, 0)

    def tab(*rs):
        return pa.table(
            {
                "user_id": pa.array([1] * len(rs), pa.int64()),
                "event_type": pa.array([r[0] for r in rs]),
                "event_id": pa.array(
                    list(range(len(rs))), pa.int64()
                ),
                "value": pa.array([1.0] * len(rs), pa.float64()),
                "ts": pa.array(
                    [base + timedelta(hours=r[1]) for r in rs],
                    pa.timestamp("us"),
                ),
            }
        )

    d = tmp_path / "late_drop"
    d.mkdir()
    batches = [
        # batch 0: day-0 and day-1 rows, all on time
        tab(("click", 1), ("click", 2), ("click", 3), ("view", 5),
            ("click", 26)),
        # batch 1: day-5 rows — at batch END the watermark advances to
        # day-4 (max event time minus the 1-day delay)
        tab(("click", 121), ("view", 122)),
        # batch 2: watermarks lag one batch and eviction runs at batch
        # END (the dedup eviction test's lesson) — this extra
        # watermark-advancing batch is where the day-0/day-1 windows
        # actually finalize, emit, and leave the state store
        tab(("click", 123)),
        # batch 3: one LATE row (day-0 event time, far behind the
        # watermark, its window already evicted -> DROPPED) + one
        # on-time day-6 row
        tab(("click", 6), ("click", 145)),
    ]
    now = _time.time()
    for i, t in enumerate(batches):
        f = d / f"00{i}.parquet"
        pq.write_table(t, f)
        os.utime(f, (now - 300 + i * 100, now - 300 + i * 100))

    stream = read_events_stream(spark, str(d))
    q = (
        late_drop_stream(stream, delay="1 day")
        .writeStream.format("memory")
        .queryName("late_drop_live")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 4
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1  # exactly the batch-2 latecomer
    wm = _final_watermark(q)
    got = {
        (r.day, r.event_type, r.n)
        for r in spark.table("late_drop_live").collect()
    }
    day0 = datetime(2026, 1, 1)
    day1 = datetime(2026, 1, 2)
    # the day-0 click count is 3, NOT 4 — the late row never counted
    assert got == {
        (day0, "click", 3),
        (day0, "view", 1),
        (day1, "click", 1),
    }
    # stream≡batch: the finalized set equals the batch aggregation
    # over the ON-TIME rows restricted to watermark-closed windows
    import pandas as pd

    on_time = [
        ("click", 1), ("click", 2), ("click", 3), ("view", 5),
        ("click", 26), ("click", 121), ("view", 122), ("click", 123),
        ("click", 145),
    ]
    pdf = pd.DataFrame(
        {
            "day": [
                (base + timedelta(hours=h)).replace(
                    hour=0, minute=0, second=0
                )
                for _t, h in on_time
            ],
            "event_type": [t for t, _h in on_time],
        }
    )
    batch = {
        (k[0].to_pydatetime(), k[1], int(v))
        for k, v in pdf.groupby(["day", "event_type"]).size().items()
        if k[0].to_pydatetime() + timedelta(days=1) <= wm
    }
    assert got == batch
