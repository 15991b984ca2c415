"""Structured Streaming runner (SURVEY.md §2.10, the streaming half).

The batch event-time operators in ``sparketl.operators.eventtime`` are
written as plain DataFrame transformations — which is exactly what
Structured Streaming executes incrementally.  This module provides the
stream-side wiring: a file-source ``readStream`` over the events table,
a generic run-to-completion helper (``Trigger.AvailableNow`` → memory
sink), and the custom-stateful path (#133) via
``applyInPandasWithState``.

Scale: the file source tails a directory the way a production job
tails a landing zone; ``availableNow`` gives reprocessing with
bounded-batch semantics.  State (#133) is per-key and pruned by a
processing-time timeout, so the state store stays O(active users), not
O(events) — the property that lets sessionization run indefinitely on
an unbounded stream.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sparketl.tables import normalize_events_ts, read_parquet

SESSION_GAP_MIN = 30

SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("session_end", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_us", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
        # the still-open session's running totals — carried so a session
        # spanning micro-batches is emitted with its FULL start/count,
        # not just the current batch's slice (round-1 ADVICE bug)
        T.StructField("open_start_us", T.LongType()),
        T.StructField("open_n_events", T.LongType()),
    ]
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """#128-134 ingestion: file-source readStream over the events
    landing directory, with the same ts normalization as the batch
    loader (sparketl.tables).  File streams require an explicit schema;
    ``read_parquet`` takes it from one file's footer, read on the driver
    by Spark's own converter, so the stream tracks whichever physical
    ts type the fixtures carry (one driver-side metadata read, no data
    scan and no Spark job)."""
    raw_schema = read_parquet(spark, events_dir).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    return normalize_events_ts(raw)


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    query_name: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    memory sink and return the materialized result as a DataFrame.
    ``output_mode``: 'append' for row streams, 'complete' for
    aggregations."""
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def incremental_dedup_stream(
    new_docs_stream: DataFrame, standing_docs: DataFrame
) -> DataFrame:
    """Streaming face of ``llm_dedup_incremental`` (round-7, VERDICT r6
    #8): micro-batch ingest dedup that unifies the batch/stream story.

    Two layers, matching what a continuously-fed pipeline needs:

    1. stream-STATIC left-anti join against the standing corpus's
       signature set — drops arriving docs the corpus already has
       (the batch face's exact semantics, executed per micro-batch);
    2. stateful ``dropDuplicates`` on DOC IDENTITY (doc_id + content
       hash) — drops at-least-once REDELIVERIES of the same document
       across micro-batch boundaries, which the batch face never sees
       because a batch is read once.  Keyed on identity, NOT the bare
       content hash: two DISTINCT new docs sharing text are both kept,
       exactly as the batch face keeps them (it only anti-joins
       against the standing corpus) — a bare-hash key would collapse
       them to an arrival-order-dependent survivor (round-7 review
       finding; within-batch same-text resolution is a separate
       declared operator, llm_dedup_exact).

    Scale: the static side is the signature table (16-byte sigs, never
    text); state for layer 2 is one (doc_id, hash) per distinct
    arrived doc — on an unbounded production stream use
    :func:`incremental_dedup_stream_bounded`, whose declared plan
    carries the watermark bound (state = last-δ window only, eviction
    live-tested in tests/test_streaming.py).
    """
    sigs = standing_docs.select(F.md5("text").alias("sig")).distinct()
    batch = new_docs_stream.select(
        "doc_id", "lang", F.md5("text").alias("text_md5")
    )
    fresh = batch.join(sigs, batch.text_md5 == sigs.sig, "left_anti")
    return fresh.dropDuplicates(["doc_id", "text_md5"])


def incremental_dedup_stream_bounded(
    new_docs_stream: DataFrame,
    standing_docs: DataFrame,
    delay: str = "10 minutes",
) -> DataFrame:
    """Watermark-BOUNDED twin of :func:`incremental_dedup_stream`
    (round 9, VERDICT r8 #5): same two layers, but layer 2 is
    ``withWatermark(ingest_ts, δ) + dropDuplicatesWithinWatermark`` so
    the DECLARED PLAN carries the state bound, not just the docstring.

    Requires an ``ingest_ts`` column (arrival time — the landing
    zone's file/commit timestamp in production).  Redeliveries arrive
    within the delivery-timeout window, so keys older than the
    event-time watermark minus δ can never collide again and Spark
    EVICTS them: state holds only the last-δ window's identities —
    O(arrival rate × δ), a constant on an unbounded stream — where the
    unbounded twin's state is O(all arrived identities) (measured
    growing linearly, SCALING.md).  tests/test_streaming.py's
    three-batch live test asserts both the exactly-once output AND the
    state-row plateau via the query's recentProgress stateOperators."""
    sigs = standing_docs.select(F.md5("text").alias("sig")).distinct()
    batch = new_docs_stream.select(
        "doc_id",
        "lang",
        F.md5("text").alias("text_md5"),
        # watermarks require TIMESTAMP (NTZ parquet sources rejected)
        F.col("ingest_ts").cast("timestamp").alias("ingest_ts"),
    )
    fresh = batch.join(sigs, batch.text_md5 == sigs.sig, "left_anti")
    return fresh.withWatermark("ingest_ts", delay).dropDuplicatesWithinWatermark(
        ["doc_id", "text_md5"]
    )


def dedup_stream(
    events_stream: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """#132 streaming face on a LIVE readStream (round 14, VERDICT r13
    #8): first event per (user_id, event_type) across micro-batch
    boundaries via ``withWatermark(ts, δ) +
    dropDuplicatesWithinWatermark`` — the declared plan carries the
    state bound, exactly like incremental_dedup_stream_bounded's.

    Semantics vs the batch face (operators/eventtime.stream_dedup,
    which spells "first" deterministically as row_number over (ts,
    event_id)): the stream keeps the first ARRIVAL per key, so
    stream≡batch holds when duplicates arrive after their original —
    the property the time-split multibatch test constructs and pins
    (tests/test_streaming.py), mirroring the LOCF lane's proof.  Keys
    whose event time falls δ behind the watermark are EVICTED: state
    is O(keys active in the last δ), a constant on an unbounded
    stream, and a key re-appearing after eviction is re-emitted — the
    documented trade a bounded-state dedup makes (asserted live in the
    same test via the query's stateOperators progress)."""
    return (
        events_stream.select(
            "user_id",
            "event_type",
            "event_id",
            F.round("value", 6).alias("first_value"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .drop("ts")
    )


def late_drop_stream(
    events_stream: DataFrame, delay: str = "7 days"
) -> DataFrame:
    """#131 live lane (round 15, VERDICT r14 #8 — the last §2.10 face
    whose streaming twin was batch-equivalent only): watermarked
    tumbling-day counts per event type where LATE rows — event time
    more than δ behind the observed max — are DROPPED by the
    watermark, observable in the query's
    ``stateOperators[].numRowsDroppedByWatermark``.

    Semantics vs the batch face (operators/eventtime.
    stream_watermark_late_drop, which spells the cutoff as a
    max(ts)-δ filter): the stream applies the same cutoff
    CONTINUOUSLY — the watermark is the running max event time minus
    δ, lagging one micro-batch — so stream≡batch holds for rows that
    arrive in event-time order, and the time-split test constructs
    exactly the late-arrival case to pin both the drop count and the
    finalized window values (tests/test_streaming.py).  State is
    O(open windows × event types) — the watermark closes windows,
    bounding it on an unbounded stream."""
    return (
        events_stream.select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type"
        )
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("day"),
            F.col("w.end").alias("day_end"),
            "event_type",
            "n",
        )
    )


def stage_events_dir(sf_dir: str, scratch_root: str) -> str:
    """Copy events.parquet into a fresh landing directory (file sources
    consume directories; fixtures are single files)."""
    dst = os.path.join(scratch_root, "stream_events_in")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(dst, "part-000.parquet"),
    )
    return dst


def _fmt_ts_seconds(s: pd.Series) -> pd.Series:
    """``ts.dt.strftime('%Y-%m-%d %H:%M:%S')``, ~4x faster: numpy's
    C-level ISO formatter + one vectorized separator replace.  strftime
    was 78% of the whole sessionize body under cProfile (it routes
    every value through a Python-level format call); values are
    verified identical including the truncation-to-seconds."""
    iso = np.datetime_as_string(s.values.astype("datetime64[s]"), unit="s")
    return pd.Series(iso, index=s.index).str.replace("T", " ", regex=False)


def sessionize_pandas(pdf: pd.DataFrame, gap_min: int = SESSION_GAP_MIN) -> pd.DataFrame:
    """Shared sessionization core (batch applyInPandas AND the
    per-microbatch body of the stateful path): split one user's events
    into sessions at > ``gap_min``-minute silences.  Integer/time math
    only — oracle-checkable."""
    pdf = pdf.sort_values("ts").reset_index(drop=True)
    gap = pd.Timedelta(minutes=gap_min)
    new_session = (pdf["ts"].diff() > gap) | pdf["ts"].diff().isna()
    session_id = new_session.cumsum().astype("int64")
    out = (
        pdf.assign(session_id=session_id)
        .groupby("session_id", as_index=False)
        .agg(
            user_id=("user_id", "first"),
            session_start=("ts", "min"),
            session_end=("ts", "max"),
            n_events=("ts", "size"),
        )
    )
    # exact integer µs duration (no float math — engine-stable)
    out["duration_us"] = (
        (out["session_end"] - out["session_start"]).astype("int64") // 1000
    )
    out["session_start"] = _fmt_ts_seconds(out["session_start"])
    out["session_end"] = _fmt_ts_seconds(out["session_end"])
    return out[
        ["user_id", "session_id", "session_start", "session_end", "n_events", "duration_us"]
    ]


def sessionize_pandas_bucket(
    pdf: pd.DataFrame, gap_min: int = SESSION_GAP_MIN
) -> pd.DataFrame:
    """Vectorized sessionization for a BUCKET of users (the batch
    applyInPandas body): one sort + C-speed grouped diff/cumsum instead
    of a Python call per user.  Semantically identical to
    :func:`sessionize_pandas` run per user; at scale this is the shape
    that keeps the Arrow boundary amortized (bucket ~ thousands of
    users per task, zero per-user Python overhead)."""
    pdf = pdf.sort_values(["user_id", "ts"]).reset_index(drop=True)
    gap = pd.Timedelta(minutes=gap_min)
    same_user = pdf["user_id"].eq(pdf["user_id"].shift())
    new_session = ~same_user | (pdf["ts"].diff() > gap)
    # per-user session numbering: global cumsum minus the user's offset
    pdf = pdf.assign(_gsid=new_session.cumsum())
    pdf["session_id"] = (
        pdf["_gsid"] - pdf.groupby("user_id", sort=False)["_gsid"].transform("min") + 1
    ).astype("int64")
    out = (
        pdf.groupby(["user_id", "session_id"], as_index=False, sort=False)
        .agg(session_start=("ts", "min"), session_end=("ts", "max"), n_events=("ts", "size"))
    )
    out["duration_us"] = (
        (out["session_end"] - out["session_start"]).astype("int64") // 1000
    )
    out["session_start"] = _fmt_ts_seconds(out["session_start"])
    out["session_end"] = _fmt_ts_seconds(out["session_end"])
    return out[
        ["user_id", "session_id", "session_start", "session_end", "n_events", "duration_us"]
    ]


def _sessionize_stateful(key, pdf_iter, state: GroupState):
    """#133 applyInPandasWithState body.

    State per user is four longs: (highest session id, last event µs,
    open session start µs, open session event count).  Each batch emits
    an UPSERT stream keyed by (user_id, session_id): sessions closed
    within the batch are final; the still-open final session is emitted
    with its cumulative start/count/duration and re-emitted (same key,
    updated totals) by later batches that extend it.  Downstream
    consumers keep the LAST row per key — exactly the contract of an
    update-mode sink — and tests assert that last-row-per-key equals
    the batch-mode sessionization (batch ≡ stream).

    Assumes batches arrive in event-time order (append-only landing
    zone); an out-of-order event older than the open session still
    joins it (negative gap ≤ gap) without corrupting the totals.
    """
    (user_id,) = key
    rows = pd.concat(list(pdf_iter)).sort_values("ts").reset_index(drop=True)
    # robust to pandas datetime64[ns] vs [us] backing
    ts_us = pd.Series(rows["ts"].values.astype("datetime64[us]").astype("int64"))
    gap_us = SESSION_GAP_MIN * 60_000_000
    new_session = ts_us.diff().gt(gap_us) | ts_us.diff().isna()
    local_sid = new_session.cumsum().astype("int64")
    grouped = pd.DataFrame({"sid": local_sid, "us": ts_us}).groupby("sid")["us"]
    starts = grouped.min().astype("int64")
    ends = grouped.max().astype("int64")
    counts = grouped.size().astype("int64")

    sid_offset = 0
    if state.exists:
        sid0, last_us, open_start_us, open_n = state.get
        if int(ts_us.iloc[0]) - last_us <= gap_us:
            # first local session continues the carried open session:
            # merge its running totals before emitting.  The end must
            # carry forward too — a batch of out-of-order events all
            # older than the open session's last event must not regress
            # the already-emitted session_end/duration (the last-row-
            # per-key consumer would keep a shrunken session).
            sid_offset = sid0 - 1
            starts.iloc[0] = min(int(starts.iloc[0]), open_start_us)
            ends.iloc[0] = max(int(ends.iloc[0]), last_us)
            counts.iloc[0] += open_n
        else:
            sid_offset = sid0

    session_ids = (starts.index + sid_offset).astype("int64")
    state.update(
        (
            int(session_ids.max()),
            # the open session's latest event time (ends.iloc[-1]
            # already includes any merged carry-over), NOT the batch's
            # last raw timestamp — keeps the gap anchor monotone
            int(ends.iloc[-1]),
            int(starts.iloc[-1]),
            int(counts.iloc[-1]),
        )
    )
    fmt = "%Y-%m-%d %H:%M:%S"
    yield pd.DataFrame(
        {
            "user_id": user_id,
            "session_id": session_ids,
            "session_start": pd.to_datetime(starts.values, unit="us").strftime(fmt),
            "session_end": pd.to_datetime(ends.values, unit="us").strftime(fmt),
            "n_events": counts.values,
            "duration_us": (ends.values - starts.values).astype("int64"),
        }
    )


def stateful_sessions_stream(events_stream: DataFrame) -> DataFrame:
    """#133 custom stateful streaming operator: gap-based sessions via
    applyInPandasWithState (per-key state + timeout), the Spark-native
    replacement for a hand-rolled stateful ETL stage."""
    return events_stream.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        _sessionize_stateful,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        # NoTimeout here: under Trigger.AvailableNow a processing-time
        # timeout keeps scheduling wake-up batches and the run never
        # terminates.  In a 24/7 deployment switch to
        # ProcessingTimeTimeout + state.setTimeoutDuration() so idle
        # users' state is evicted (keeps the store O(active users)).
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# #133, Spark 4.x API: transformWithStateInPandas (StatefulProcessor)
# ---------------------------------------------------------------------------

try:  # Spark 4.x only; ALSO requires protobuf (the TWS state protocol
    # is protobuf-based — absent in this container, so the capability
    # gate import-checks it; applyInPandasWithState above is the #133
    # implementation that runs everywhere)
    import google.protobuf.descriptor  # noqa: F401

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCountProcessor(StatefulProcessor):
        """#133 via the 4.x arbitrary-state API: per-key running event
        count + running value total (integer cents).  State = one
        two-field ValueState per key; the state store (RocksDB at
        scale) holds O(keys), checkpointed per micro-batch."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            import pyspark.sql.types as T

            schema = T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("cents", T.LongType()),
                ]
            )
            self._state = handle.getValueState("totals", schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                self._state.get() if self._state.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    pdf["value"].mul(100.0).round().astype("int64").sum()
                )
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"event_type": [key[0]], "n": [n], "cents": [cents]}
            )

        def close(self) -> None:
            pass

    HAS_TRANSFORM_WITH_STATE = True
except ImportError:  # pragma: no cover
    HAS_TRANSFORM_WITH_STATE = False


def running_totals_stream(events_stream: DataFrame) -> DataFrame:
    """#133 (4.x API): per-event-type running totals via
    transformWithStateInPandas."""
    return (
        events_stream.select("event_type", "value")
        .groupBy("event_type")
        .transformWithStateInPandas(
            statefulProcessor=RunningCountProcessor(),
            outputStructType="event_type string, n long, cents long",
            outputMode="Update",
            timeMode="None",
        )
    )


def quality_gate_stream(new_docs_stream: DataFrame) -> DataFrame:
    """Streaming face of ``llm_quality_classifier`` (round 7): score
    every arriving document with the identical hashed-linear-model
    expression and keep only positive-score rows — the live ingest
    quality gate in front of a training-data lake.

    Stateless by construction (a narrow map per micro-batch, no
    watermark or state store needed), so throughput is scan-bound and
    the verdict for a document is byte-identical to the batch face —
    proven by the two-micro-batch parity test in
    tests/test_streaming.py."""
    from sparketl.operators.curation import quality_score_frame

    return quality_score_frame(new_docs_stream).where(F.col("keep"))


# ---------------------------------------------------------------------------
# §2 #154 streaming face — stateful LOCF forward fill
# ---------------------------------------------------------------------------

LOCF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("locf_value", T.DoubleType()),
    ]
)

#: per-user carry: the last observed measure + a has-observation flag
#: (a separate flag instead of a NULL sentinel — state round-trips
#: through Arrow, and "no observation yet" must survive exactly).
LOCF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_obs", T.DoubleType()),
        T.StructField("has_obs", T.BooleanType()),
    ]
)


def _locf_obs(pdf: pd.DataFrame) -> pd.Series:
    """THE shared observation mask (every LOCF face goes through this
    one line, so the observed-measure definition can't drift between
    runtimes): the measure is observed on purchase rows only.

    NaN caveat (documented, not exercised — no fixture carries NaN in
    ``value``): a NaN-VALUED purchase is treated as 'no observation'
    here (pandas ffill skips NaN), while Spark's ``last_value IGNORE
    NULLS`` and the DuckDB oracle would carry NaN as an observed
    non-NULL value.  If the generator ever emits NaN measures the
    mask must distinguish NaN-as-value first."""
    return pdf["value"].where(pdf["event_type"].eq("purchase"))


def _locf_emit(pdf: pd.DataFrame, filled: pd.Series) -> pd.DataFrame:
    """THE shared emission builder.  NaN→NULL discipline: pandas
    ffill leaves leading NaN for rows before the first observation; a
    float64 NaN crosses Arrow as a NaN *value*, not a SQL NULL, so
    the column is rebuilt as objects with real ``None`` before it
    leaves Python."""
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"].astype("int64"),
            "event_id": pdf["event_id"].astype("int64"),
            "locf_value": filled.astype(object).where(filled.notna(), None),
        }
    )


def _locf_frame(pdf: pd.DataFrame, carry: float | None) -> tuple[pd.DataFrame, float | None]:
    """Per-user LOCF over ONE (already complete) micro-batch group:
    sort by (ts, event_id), forward-fill the shared observation mask
    seeded with the cross-batch carry, return (emission, new carry)."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    obs = _locf_obs(pdf)
    filled = obs.ffill()
    if carry is not None:
        filled = filled.fillna(carry)
    seen = obs.dropna()
    new_carry = float(seen.iloc[-1]) if len(seen) else carry
    return _locf_emit(pdf, filled), new_carry


def locf_pandas_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized LOCF for a BUCKET of users (the batch applyInPandas
    body, same bucketing rationale as sessionize_pandas_bucket): one
    sort + a grouped ffill instead of a Python call per user.  Shares
    the observation mask and emission builder with the streaming
    path; the grouped-vs-plain ffill difference is the only fork, and
    the stream≡batch tests pin the two equal."""
    pdf = pdf.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    filled = _locf_obs(pdf).groupby(pdf["user_id"], sort=False).ffill()
    return _locf_emit(pdf, filled)


def _locf_stateful(key, pdf_iter, state: GroupState):
    """#154 applyInPandasWithState body: per-user state is ONE scalar
    (+flag) — the smallest possible streaming state, O(users) total
    and O(1) per key, vs the batch window's per-partition sort.

    Ordering contract: the WHOLE micro-batch group is concatenated
    before the (ts, event_id) sort — pdf_iter yields the group in
    Arrow chunks (maxRecordsPerBatch, default 10k rows) in arbitrary
    order, and sorting chunks independently would fill a row from a
    later-chunk observation (review-caught; same pattern as
    _sessionize_stateful).  The carry hands the last observation
    across batches — exact LOCF when batches arrive in per-key
    event-time order (the time-split test proves cross-batch
    equality with the batch window); an observation arriving a full
    batch late is applied from its batch onward, never retroactively
    (same append-mode contract as every streaming ffill)."""
    if state.exists:
        last_obs, has_obs = state.get
        carry: float | None = last_obs if has_obs else None
    else:
        carry = None
    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    out, carry = _locf_frame(pdf, carry)
    yield out
    if carry is not None:
        state.update((float(carry), True))


def locf_stream(events_stream: DataFrame) -> DataFrame:
    """#154 streaming face: stateful forward fill via
    applyInPandasWithState (NoTimeout for AvailableNow runs — a 24/7
    deployment uses ProcessingTimeTimeout to evict idle users)."""
    return (
        events_stream.select("user_id", "event_id", "ts", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _locf_stateful,
            outputStructType=LOCF_OUT_SCHEMA,
            stateStructType=LOCF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def hourly_rollup(events_df: DataFrame) -> DataFrame:
    """#157 shared core — hourly partials (count + integer cents) as
    ONE expression for both runtimes: under ``readStream`` (via
    :func:`rollup_hourly_stream`, with a watermark) this is Spark's
    incrementally-maintained windowed aggregation; on the batch table
    it is the plain hourly group.  The cascade's losslessness rests on
    these partials being ASSOCIATIVE carriers (count + integer cents,
    never doubles), so daily re-aggregation from the sink is exact."""
    return (
        events_df.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            ),
        )
        .select(F.col("window.start").alias("bucket"), "n_events", "cents")
    )


def rollup_hourly_stream(
    events_stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """#157 streaming face, hourly tier: the continuous aggregate a
    24/7 deployment maintains — watermarked tumbling hourly windows in
    APPEND mode, so each hour row is emitted exactly once, when the
    watermark passes its end and the hour is FINAL.  The state store
    holds only the open hours (O(active windows), eviction by
    watermark); the emitted sink is immutable and safe to cascade
    from."""
    return hourly_rollup(events_stream.withWatermark("ts", watermark))


def rollup_daily_from_hourly(hourly_df: DataFrame) -> DataFrame:
    """#157 cascade tier: daily rows re-aggregated FROM THE HOURLY
    SINK — 24 partial rows per day, never a second scan of raw
    events.  Exact by associativity of the integer carriers; proven
    stream≡batch in tests/test_streaming.py."""
    return hourly_df.groupBy(
        F.date_trunc("day", "bucket").alias("bucket")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("cents").alias("cents"),
    )
