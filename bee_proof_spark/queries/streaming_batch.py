"""Streaming window operators (SURVEY.md section 2-B streaming rows + north
star). Tumbling/sliding/session windows run batch-first (oracle-checkable,
same window() semantics as streaming); watermark/dedup run a REAL readStream
over the replayed fixture via the streaming harness.

Scale posture: windowed aggregation states are bounded by watermarks; batch
window() compiles to a plain hash aggregate on the window struct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bee_proof_spark.queries import dsum, o_dsum, register, table_info, tbl


@register(
    "stream_tumbling_batch",
    oracle=f"""
    SELECT cast(cast(to_timestamp(floor(epoch(ts) / 3600) * 3600) as timestamp) as varchar) AS window_start,
           event_type,
           count(*) AS n_events,
           {o_dsum('value')} AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def stream_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows over events.ts (epoch-floor oracle)."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_sliding_batch",
    oracle="""
    WITH shifted AS (
      SELECT cast(to_timestamp(floor(epoch(ts) / 1800) * 1800) as timestamp) AS slot_start, ts
      FROM events
    ),
    both_windows AS (
      SELECT cast(slot_start as varchar) AS window_start, ts FROM shifted
      UNION ALL
      SELECT cast(slot_start - INTERVAL 30 MINUTE as varchar) AS window_start, ts FROM shifted
    )
    SELECT window_start, count(*) AS n_events FROM both_windows GROUP BY window_start
    """,
)
def stream_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 30 min slide): each event lands in exactly
    two windows - the oracle materializes both by shifting the 30-min slot."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events")
    )


@register(
    "stream_session_batch",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    islands AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged
    )
    SELECT user_id, cast(min(ts) as varchar) AS session_start, count(*) AS n_events
    FROM islands GROUP BY user_id, session_no
    """,
)
def stream_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) via session_window(); oracle rebuilds the
    same sessions with gaps-and-islands (stable because event times are
    unique per user)."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
    )


_WATERMARK_LATE_ORACLE = """
WITH w AS (
  SELECT date_trunc('hour', ts) AS ws, count(*) AS n_events
  FROM events GROUP BY 1
), mx AS (SELECT date_trunc('millisecond', max(ts)) AS mt FROM events)
SELECT cast(ws AS varchar) AS window_start, n_events
FROM w, mx
WHERE ws + INTERVAL 1 HOUR <= mt - INTERVAL 1 HOUR
"""


@register("stream_watermark_late", oracle=_WATERMARK_LATE_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL readStream: tumbling windows under a 1-hour watermark with
    AvailableNow replay into a memory sink. Late data beyond the watermark is
    dropped by the state store; with in-order replay the totals match batch.

    Oracle-checkable (upgraded from rows-only, r5) because every piece of
    the append-mode output is closed-form on this replay:

    - **No late drops.** The replay's micro-batches are range-partitioned
      by ts and replayed in time order, so every event in batch i+1 is
      >= batch i's max event time > the watermark — no row is ever late.
    - **Emission set = windows closed by the FINAL watermark.** AvailableNow
      runs a trailing no-data micro-batch after the last file (verified
      empirically at sf0.001/sf0.01, and pinned continuously by this
      oracle), so the operative watermark is global max(ts) - 1h and the
      sink holds exactly the hourly windows Spark finalizes against it.
      The oracle mirrors Spark's boundary semantics EXACTLY (r6, ADVICE
      fix): the watermark tracker floors event times to whole milliseconds
      (EventTimeStatsAccum stores micros/1000) and append mode emits
      windows with end <= watermark - probed directly with an hour-aligned
      max ts, where the end == watermark window IS emitted (pinned by
      tests/test_streaming.py::test_watermark_boundary_window_emitted).
      Hence the oracle compares ws + 1h <= date_trunc(ms, max ts) - 1h
      instead of relying on a fixture's sub-ms fraction to dodge the
      boundary.

    Windows covering the last hour of data stay in state (unemitted),
    exactly as a live pipeline would leave them pending."""
    from bee_proof_spark.streaming import replay_events_stream, run_to_memory_sink

    stream = replay_events_stream(spark, sf_dir, "agg")
    windowed = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").cast("string").alias("window_start"), "n_events")
    )
    return run_to_memory_sink(
        windowed,
        output_mode="append",
        input_rows=table_info(sf_dir, "events").rows,
    )


_DEDUP_STATE_ORACLE = """
SELECT DISTINCT user_id, event_type,
       cast(date_trunc('hour', ts) AS varchar) AS hour_start
FROM events
"""


@register("stream_dedup_state", oracle=_DEDUP_STATE_ORACLE)
def stream_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL readStream: stateful dropDuplicates on (user_id, event_type,
    event-hour) within a 1-hour watermark - the bounded-state streaming
    dedup pattern (key x time-bucket, so old buckets expire as the
    watermark advances and state never grows past watermark x key rate).

    The watermark is declared ON the truncated ``hour`` column (r6, ADVICE
    fix): ``date_trunc`` strips event-time metadata, so watermarking ``ts``
    before truncation left the dedup keys metadata-free and
    StreamingDeduplicateExec never evicted (measured: numRowsRemoved=0,
    all 994 keys retained on sf0.001). With the watermark on ``hour``
    itself, a key column carries the event time and eviction fires
    (numRowsRemoved>0 pinned by tests/test_streaming.py): bucket H is
    evicted once the watermark max(hour)-1h passes H, so live state is
    bounded by ~2 buckets x key rate.

    Oracle-checkable (upgraded from rows-only, r5): the emitted set equals
    the batch DISTINCT because no duplicate can ever arrive after its key
    expired. The watermark on the floored column is only coarser:
    max(hour)-1h <= max(ts)-1h, and when a same-bucket duplicate arrives
    in bucket H the watermark is at most H-1h < H, so the state entry is
    still alive and the duplicate is dropped, on ANY micro-batch
    partitioning of in-order data (eviction of H needs a bucket >= H+2h,
    which in-order replay only reaches after every bucket-H event has
    arrived). The projection carries only the dedup key (which physical
    row survives inside a batch is engine-arbitrary, the key set is
    not)."""
    from bee_proof_spark.streaming import replay_events_stream, run_to_memory_sink

    stream = replay_events_stream(spark, sf_dir, "insert_heavy")
    deduped = (
        stream.withColumn("hour", F.date_trunc("hour", "ts"))
        .withWatermark("hour", "1 hour")
        .dropDuplicates(["user_id", "event_type", "hour"])
        .select(
            "user_id",
            "event_type",
            F.col("hour").cast("string").alias("hour_start"),
        )
    )
    return run_to_memory_sink(
        deduped,
        output_mode="append",
        input_rows=table_info(sf_dir, "events").rows,
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           cast(c.ts as varchar) AS click_ts, cast(v.ts as varchar) AS view_ts
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE AND c.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL readStream stream-stream interval self-join: each click pairs
    with same-user views from the preceding 30 minutes.

    Both sides carry a 2-hour watermark; state retention therefore covers
    the 30-minute join bound with 4x slack, so no in-bound match is ever
    evicted before its partner arrives (replay batches advance in event-time
    order) - the inner interval join is COMPLETE and equals the batch SQL
    join, which is the oracle. Scale notes: state per side is bounded by
    watermark x arrival rate, keyed and sharded by user_id; this is the
    canonical enrich-clicks-with-impressions shape.
    """
    from bee_proof_spark.streaming import replay_events_stream, run_to_memory_sink

    stream = replay_events_stream(spark, sf_dir, "join")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = clicks.join(
        views,
        F.expr(
            "c_user = v_user AND v_ts BETWEEN c_ts - INTERVAL 30 MINUTES AND c_ts"
        ),
    ).select(
        "click_id",
        "view_id",
        F.col("c_user").alias("user_id"),
        F.col("c_ts").cast("string").alias("click_ts"),
        F.col("v_ts").cast("string").alias("view_ts"),
    )
    return run_to_memory_sink(
        joined,
        output_mode="append",
        input_rows=table_info(sf_dir, "events").rows,
    )


_SESSION_STATEFUL_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS tms FROM events
), seq AS (
  SELECT user_id, tms,
         lag(tms) OVER (PARTITION BY user_id ORDER BY tms) AS prev
  FROM e
), isl AS (
  SELECT user_id, tms,
         sum(CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tms
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM seq
), s AS (
  SELECT user_id, island,
         min(tms) AS session_start_ms, max(tms) AS session_end_ms,
         count(*) AS n_events
  FROM isl GROUP BY user_id, island
), last_isl AS (
  SELECT user_id, max(island) AS last_island FROM s GROUP BY user_id
), mx AS (SELECT max(epoch_ms(ts)) AS mxms FROM events)
SELECT s.user_id, session_start_ms, session_end_ms, n_events
FROM s JOIN last_isl ON s.user_id = last_isl.user_id, mx
WHERE s.island < last_isl.last_island
   OR s.session_end_ms + 1800000 < mx.mxms - 600000
"""


@register("stream_session_stateful", oracle=_SESSION_STATEFUL_ORACLE)
def stream_session_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL readStream custom stateful operator: per-user sessionization with
    applyInPandasWithState (30-min gap, event-time timeout).

    Per user_id, arriving events extend the open session or close it when the
    gap exceeds 30 minutes; sessions also close via event-time timeout when
    the watermark passes session_end + gap. Only *closed* sessions are
    emitted - sessions still open when the replay ends stay in state,
    exactly as a live pipeline would behave.

    Oracle-checkable (upgraded from rows-only, r5): on the in-order replay
    every determinant of the emitted set is closed-form — gap closures
    depend only on each user's event-time sequence (batch gaps-and-islands),
    and timeout closures fire exactly for each user's LAST island with
    session_end + 30min < the final watermark (global max event time, ms,
    minus the 10-min delay; AvailableNow's trailing no-data batch advances
    the watermark there, verified empirically and pinned by this oracle).
    Session bounds are emitted as epoch-milliseconds (the state's own unit)
    so the comparison is format-free; the ms floor matches DuckDB's
    epoch_ms on both ends.

    Scale notes: state is one (start, end, count) triple per active user -
    bounded by the watermark, sharded by the groupBy key across executors.
    The pandas function sees Arrow record batches per key, never whole
    partitions.

    **Do not use this operator at scale.** The Python state API itself is
    the measured floor: 102 s at the 100x fixture (10M events; was 168 s
    before the r5 epoch-ms output change removed ~19M per-row pandas
    timestamp-string formats) - 62 s at 10x/1M events even after
    state-sized partitions cut the per-batch commit count and let larger
    Arrow batches amortize the per-key marshalling - the residual cost is
    the state protocol, not this function body. Fixed-or-expression
    gap sessionization is covered by the JVM ``session_window`` twins
    (``stream_session_batch`` / ``stream_session_dynamic_gap``, both
    oracle-green) at ~2 s for the same 100x shape; reach for this
    operator only when the state machine genuinely cannot be expressed as
    a session window. Spark 4's ``transformWithStateInPandas`` is the
    designated migration path for custom state at cluster scale (timers +
    typed state over RocksDB); it cannot be measured in this container -
    its state protocol imports ``google.protobuf``, which is absent - so
    the steer to the session_window twins stands on the measured numbers.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from bee_proof_spark.streaming import replay_events_stream, run_to_memory_sink

    GAP_MS = 30 * 60 * 1000

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_ms", LongType()),
            StructField("session_end_ms", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_ms", LongType()),
            StructField("end_ms", LongType()),
            StructField("n", LongType()),
        ]
    )

    def sessionize(key, pdfs, state: GroupState):
        user = key[0]
        closed: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            start_ms, end_ms, n = state.get
            closed.append((start_ms, end_ms, n))
            state.remove()
        else:
            ts_ms: list[int] = []
            for pdf in pdfs:
                # Vectorized unit-safe conversion: to_numpy(datetime64[ms])
                # rescales from whatever unit Arrow delivered; the int64
                # view is then already milliseconds. The per-element
                # Timestamp-object loop this replaces built one Python
                # object per EVENT (10M at the 100x probe) and dominated
                # the operator's cost.
                ts_ms.extend(
                    pdf["ts"].to_numpy(dtype="datetime64[ms]").astype("int64").tolist()
                )
            ts_ms.sort()
            cur = state.get if state.exists else None
            for t in ts_ms:
                if cur is None:
                    cur = (t, t, 1)
                elif t < cur[0] - GAP_MS:
                    # out-of-order historical event (shouldn't occur with an
                    # ordered replay): its own immediately-closed session
                    closed.append((t, t, 1))
                elif t - cur[1] <= GAP_MS:
                    cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
                else:
                    closed.append(cur)
                    cur = (t, t, 1)
            if cur is not None:
                state.update(cur)
                # fire when the watermark passes end + gap (clamp above wm)
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(cur[1] + GAP_MS, wm + 1))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(closed),
                    "session_start_ms": [s for s, _, _ in closed],
                    "session_end_ms": [e for _, e, _ in closed],
                    "n_events": [n for _, _, n in closed],
                }
            )

    stream = replay_events_stream(spark, sf_dir, "insert_heavy")
    sessions = (
        # Project to the two columns the state function actually reads
        # BEFORE the stateful groupBy (guide §4.1): applyInPandasWithState
        # is opaque to Catalyst, so without the select every event row
        # crosses the JVM->Python boundary with all six columns (event_id,
        # event_type, value, props ride along unread) and the state
        # shuffle carries them too. Measured (sf0.1, local[32],
        # interleaved same-session A/B, min-of-4 warm, identical 95391
        # emitted rows): 4.449 -> 3.792 s floor.
        stream.select("user_id", "ts")
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return run_to_memory_sink(
        sessions,
        output_mode="append",
        input_rows=table_info(sf_dir, "events").rows,
    )


_UPSERT_ORACLE = """
WITH ranked AS (
  SELECT user_id, ts, event_type, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, cast(ts as varchar) AS last_ts,
       event_type AS last_event_type, event_id AS last_event_id
FROM ranked WHERE rn = 1
"""


@register("stream_foreach_batch_upsert", oracle=_UPSERT_ORACLE)
def stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL readStream + foreachBatch upsert: each micro-batch merges into a
    keyed parquet target keeping the latest event per user - the incremental
    ingest pattern (streaming MERGE INTO / CDC apply).

    The upsert reduction (argmax of (ts, event_id) per user) is associative,
    so the final state is independent of micro-batch boundaries and equals
    the batch answer - which is exactly what makes it oracle-checkable.

    Scale notes: each micro-batch reduces to at most one row per touched key
    BEFORE touching the target; the merge is a union + windowed top-1 on the
    key (at warehouse scale: MERGE INTO a Delta/Iceberg table or a
    partition-overwrite of only touched key ranges - same foreachBatch
    body, different sink binding). The target rewrite is localCheckpointed
    before overwrite so the read-modify-write never reads a half-written dir.
    """
    import os
    import shutil

    from pyspark.sql import Window

    from bee_proof_spark.queries.scans import _scratch
    from bee_proof_spark.streaming import replay_events_stream

    # Both dirs are new per call, so checkpoint and target stay in lockstep
    # (a stale checkpoint against a fresh target would skip already-committed
    # batches).
    target = _scratch("upsert")
    chk = _scratch("upsert-chk")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )

    def latest_per_user(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        new = latest_per_user(
            batch_df.select("user_id", "ts", "event_type", "event_id")
        )
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            current = sess.read.parquet(target)
            merged = latest_per_user(current.unionByName(new))
        else:
            merged = new
        # Materialize before overwriting the directory we just read from.
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(target)

    stream = replay_events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_type", "event_id"
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(chk, ignore_errors=True)
    return spark.read.parquet(target).select(
        "user_id",
        F.col("ts").cast("string").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("event_id").alias("last_event_id"),
    )


_DYN_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         epoch(ts) + CASE WHEN event_type = 'click' THEN 600 ELSE 1800 END AS ev_end,
         epoch(ts) AS ev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN max(ev_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR ev_ts > max(ev_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM ordered
),
islands AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id, cast(min(ts) as varchar) AS session_start, count(*) AS n_events
FROM islands GROUP BY user_id, session_no
"""


@register("stream_session_dynamic_gap", oracle=_DYN_SESSION_ORACLE)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC per-event gap (session_window with an
    expression gap): clicks time out after 10 minutes, everything else after
    30 - engagement-dependent sessionization no fixed-gap window expresses.

    The oracle rebuilds the same sessions with gaps-and-islands over a
    running max of per-event session ends. The split is STRICT (>): Spark
    merges an event landing exactly gap seconds after a session end into
    that session (empirically pinned - two events exactly 30 min apart
    under a 30-min gap form ONE session, fixed and expression gaps alike),
    so a new session starts only when the event's time passes the running
    max end; the sibling fixed-gap oracle's '> 1800' encodes the same
    inclusive-merge semantics.
    """
    e = tbl(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", "10 minutes").otherwise("30 minutes")
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
        )
    )
