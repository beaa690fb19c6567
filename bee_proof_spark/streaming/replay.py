"""Batch-replay harness: run a real readStream pipeline over the parquet
events fixture with Trigger.AvailableNow into a memory sink, returning the
result as a DataFrame.

This is how the streaming operators (watermark drop, stateful dedup, session
windows) are exercised without a live source: identical code runs against
kafka/files in production; only the source/sink bindings change.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bee_proof_spark.queries import table_info, tbl
from bee_proof_spark.tmputil import corpus_tag, fresh_dir, pid_dir

#: Files ingested per micro-batch when replaying the 4-file snapshot.
#: 2 keeps the replay MULTI-batch - the watermark still advances mid-stream
#: (batch 2 runs under batch 1's watermark), so bucket eviction and
#: event-time timeouts are exercised exactly as before and every operator's
#: in-order-replay closure argument (batching-independent by construction,
#: see the stream_* docstrings) is untouched - while halving the per-batch
#: fixed costs that dominate fixture-scale runs: one state-store commit per
#: partition per batch, offset/commit WAL writes, and micro-batch planning.
#: Each commit and WAL write is a file rename, and under Spark's default
#: checkpoint manager each rename forked a ``readlink`` process (see
#: ``_CHECKPOINT_FILE_MANAGER``): that fork was the per-commit fixed cost.
#: Measured under it (sf0.1, local[32], interleaved min-of-3):
#: stream_dedup_state 2.99 s at 1 file/trigger vs 1.98 s at 2, identical
#: 99058 emitted rows. The value is not re-tuned for the cheaper rename.
#: A cluster backfill sizes the same knob (maxFilesPerTrigger /
#: maxBytesPerTrigger) to its own throughput; 1-file batches are the
#: degenerate setting, not the production one.
_REPLAY_FILES_PER_TRIGGER = 2

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def replay_events_stream(
    spark: SparkSession, sf_dir: str, profile: str | None = None
) -> DataFrame:
    """readStream over the events fixture, in a clone of ``spark``
    (:func:`_stream_session`).

    A stateful stream passes its state ``profile`` (see
    :func:`streaming_state_partitions`); the clone runs at that width.
    Without one it keeps the caller's ``spark.sql.shuffle.partitions``.

    The streaming reader needs a fixed schema, so the batch table read
    through :func:`tbl` is re-materialized as a parquet snapshot in this
    process's ``stream-src`` dir and streamed from that; later calls on the
    same fixture reuse it. Every fixture here stores ``ts`` as
    microsecond, not-UTC-adjusted parquet, which Spark 4.1 infers as
    ``TimestampNTZType``; ``tbl``'s ns -> us ``LongType`` branch serves
    nanos-written tables only, such as the one
    ``test_events_nanos_read_through_the_kept_schema`` writes.
    """
    # Snapshot key: corpus_tag (abspath hash: same-named sibling fixture
    # dirs must not share a snapshot), a layout version and the events
    # table's catalog key, (mtime_ns, size): changed fixture data or a new
    # replay layout each produce a fresh snapshot path instead of silently
    # replaying a stale one.
    key = table_info(sf_dir, "events").key
    fp = "v2-%d-%d" % key if key else "v2-unknown"
    snap = os.path.join(pid_dir("stream-src"), f"{corpus_tag(sf_dir)}-{fp}")
    if not os.path.exists(snap):
        # Threads of this process may build at once: each writes and stamps
        # its own build dir, and one rename commits it, so the snapshot
        # path only ever holds a complete, stamped snapshot.
        build = f"{snap}.build-{uuid.uuid4().hex[:12]}"
        # Range-partition by ts into 4 roughly time-ordered files: with
        # _REPLAY_FILES_PER_TRIGGER (2) the replay yields multiple
        # micro-batches whose event times advance, so watermarks progress
        # and event-time timeouts fire (mirrors a live source; a
        # single-file snapshot would never advance the watermark
        # mid-stream).
        (
            tbl(spark, sf_dir, "events")
            .repartitionByRange(4, "ts")
            .sortWithinPartitions("ts")
            .write.parquet(build)
        )
        # FileStreamSource orders batches by modification time; one write job
        # stamps all files identically, leaving the REPLAY ORDER to
        # filesystem listing luck. Stamp part files in lexicographic order
        # (range partition i -> part-0000i) with ascending mtimes so the
        # stream replays in event-time order deterministically.
        base = time.time() - 3600
        parts = sorted(f for f in os.listdir(build) if f.startswith("part-"))
        for i, fname in enumerate(parts):
            os.utime(os.path.join(build, fname), (base + i * 10, base + i * 10))
        try:
            os.rename(build, snap)
        except OSError:  # another thread committed first: stream its snapshot
            shutil.rmtree(build, ignore_errors=True)
    cores = spark.sparkContext.defaultParallelism
    width = streaming_state_partitions(sf_dir, profile, cores=cores) if profile else None
    return (
        _stream_session(spark, width)
        .readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", _REPLAY_FILES_PER_TRIGGER)
        .parquet(snap)
    )


def _streaming_partitions_for_rows(
    rows: int, profile: str = "insert_heavy", *, cores: int
) -> int:
    """State-partition width from the corpus row count AND the operator's
    state profile. Every regime below is a measured floor (SCALE.md
    streaming sections); the same-day 100M-event ladders are what split
    one curve into three profiles:

    - ``"agg"`` — windowed aggregation under partial (map-side) combine:
      the stateful shuffle carries window PARTIALS, so its volume is near
      decade-independent and width is purely a per-batch commit
      multiplier (one store-delta rename per partition per batch, each of
      which forked a ``readlink`` process under Spark's default checkpoint
      manager; see ``_CHECKPOINT_FILE_MANAGER``).
      Measured flat-to-best at the floor of 8 at every decade
      (watermark-late 1000x ladder: 8.3 s @8, 10.1 @32, 15.0 @128,
      45.8 @512; sf0.1: 2.7 @8 vs 12.7 @32). Always 8.
    - ``"join"`` — stream-stream join: real per-row join work per batch
      (CPU-bound below the core count) but 4 state stores paying 4x the
      commit bill above it. The 1000x ladder is U-shaped with the minimum
      exactly at the cores: 64.4 @8, 54.2 @16, 37.6 @32(=cores),
      68.7 @128, 101 @256, 393 @512. Row curve capped at 1x cores.
    - ``"insert_heavy"`` — dedup/sessionization where key cardinality
      tracks row count: per-task state MAPS dominate (provider snapshots
      + GC pressure whole maps), so width must grow with state well past
      the core count — the 100x dedup flip (750k keys) ran 20 s @32 vs
      64-160 s @8, and at 100M events 128-512 are within noise (138/153)
      while the bucket-dedup at 100x improves 36.6 -> 25.1 from 32 to
      64. Row curve capped at 4x cores.

    ``cores`` is the session's ``defaultParallelism``: the local core count
    here, total executor cores on a cluster, so every cap is
    parallelism-relative and grows with the deployment.

    All three ladders were measured while every commit paid that fork; they
    are not re-tuned for ``_CHECKPOINT_FILE_MANAGER``, so no plan moves.
    """
    import math

    if profile == "agg":
        return 8
    mult = 1 if profile == "join" else 4
    cap = 2 ** int(math.log2(max(8, mult * cores)))
    raw = max(8, min(1024, rows // 250_000 or 1))
    return min(2 ** round(math.log2(raw)), cap)


def streaming_state_partitions(
    sf_dir: str, profile: str = "insert_heavy", *, cores: int
) -> int | None:
    """Shuffle-partition count for STATEFUL streaming queries, sized to the
    events corpus and the operator's state ``profile`` — or None to keep
    the session default. :func:`replay_events_stream` sets it on the
    stream's own session (:func:`_stream_session`), never on the caller's.

    Streaming pays a per-partition cost batch queries don't (state-store
    commits, see ``_streaming_partitions_for_rows``), so the batch
    heuristic's floor of 32 is wrong here. Sizes by the events table's
    parquet-footer row count — metadata-only reads, no scan; a cluster
    deployment would take the same number from catalog stats. ``profile``
    is the operator's statically-known state shape: ``"agg"`` (partial-
    combined windowed aggregation, width = commit multiplier only),
    ``"join"`` (per-row join work, cap at cores), ``"insert_heavy"``
    (key cardinality ~ rows, cap at 4x cores) — the measured ladders
    behind each are in ``_streaming_partitions_for_rows``. Measured
    (same-session A/B, two passes each): sf0.1 stream_stream_join
    23.1 -> 4.9 s, stream_dedup_state 11.0 -> 2.0 s, stream_watermark_late
    12.7 -> 2.7 s, stream_session_stateful 10.9 -> 6.9 s; 10x (1M events)
    dedup 9.1 -> 2.7 s, join 14.0 -> 5.2 s; all with identical result rows.
    An explicit ``SPARK_GRAFT_SHUFFLE`` wins, matching the batch path's
    contract.
    """
    if os.environ.get("SPARK_GRAFT_SHUFFLE"):
        return None
    rows = table_info(sf_dir, "events").rows
    if not rows:  # None (unknown) or 0 (empty) -> keep the session default
        return None
    return _streaming_partitions_for_rows(rows, profile, cores=cores)


#: Input-rows threshold above which an append-mode stream sinks to parquet
#: instead of memory. The memory sink ships every result row to the driver
#: (it is a collect in disguise): at the 1000x probe (100M events, ~99M
#: dedup output rows) it aborts on spark.driver.maxResultSize (1 GiB of
#: serialized task results, measured r5) long before heap is a problem. A
#: cluster pipeline writes a real table; the parquet spill is that same
#: shape locally, and the returned DataFrame contract is unchanged. The
#: driver/test fixtures (<= 1M events) stay on the zero-IO memory path.
_PARQUET_SINK_ROWS = 20_000_000


def _parquet_sink_dir() -> str:
    """Fresh per-run dir for a parquet stream sink, under this process's pid dir."""
    return fresh_dir("stream-sink")


#: Checkpoint manager for every stream this package starts, set on the
#: stream's own session by ``_stream_session``. Spark's default for ``file:``
#: paths, FileContextBasedCheckpointFileManager, renames
#: through AbstractFileSystem.renameInternal ->
#: RawLocalFileSystem.getFileLinkStatus -> FileUtil.readLink, which forks a
#: ``readlink`` process per rename when native libhadoop is absent: one fork
#: per offset, commit, state-store delta and checksum file. This manager
#: renames with FileSystem.rename (rename(2), atomic on a local disk) after
#: its own exists check, so a no-overwrite commit keeps its guarantee, and
#: the checksum files are still written.
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _stream_session(
    spark: SparkSession, state_partitions: int | None = None
) -> SparkSession:
    """A clone of ``spark`` for one stream to run in: the one place a
    stream's conf is set, and the caller's session is never written to.

    ``cloneSession()`` keeps the caller's conf as it is now, runtime sets
    included (``newSession()`` would drop them), as ``StreamExecution``'s
    own clone at ``start()`` does. Streaming listeners are per session, so
    the caller's are added to the clone and see its queries. The clone
    carries the checkpoint manager above and, when given,
    ``state_partitions`` as ``spark.sql.shuffle.partitions``."""
    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for listener in spark._jsparkSession.streams().listListeners():
        clone._jsparkSession.streams().addListener(listener)
    clone.conf.set("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
    if state_partitions is not None:
        clone.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    return clone


def run_to_memory_sink(
    stream_df: DataFrame,
    output_mode: str = "append",
    input_rows: int | None = 0,
) -> DataFrame:
    """Execute a streaming query to completion (AvailableNow) and return the
    sink contents as a DataFrame of the stream's own session
    (``stream_df.sparkSession``: for a replay stream, the clone that
    :func:`_stream_session` made, at its state width).

    ``input_rows`` (usually the events table's catalog ``rows``) picks the
    sink:
    append-mode streams over >= ``_PARQUET_SINK_ROWS`` input rows write to
    a scratch parquet table (the memory sink is a driver collect and hits
    driver.maxResultSize at the third probe decade); everything else uses
    the in-memory sink. ``None`` means the input size is UNKNOWN (a footer
    was unreadable) and also takes the parquet sink: guessing "small" on a
    100M-row fixture would re-trigger the exact maxResultSize abort the
    spill exists to prevent, while the parquet path is merely slower for a
    small stream, never wrong. The default ``0`` is the explicit
    caller-asserts-small case (unit fixtures built in-test).
    """
    spark = stream_df.sparkSession
    to_parquet = (
        output_mode == "append"  # file sinks only support append
        and (input_rows is None or input_rows >= _PARQUET_SINK_ROWS)
    )
    if to_parquet:
        path = _parquet_sink_dir()
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", f"{path}.ckpt")
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(f"{path}.ckpt", ignore_errors=True)
        # Detect the zero-output case EXPLICITLY (no data files under
        # the sink dir) instead of a bare except that would also mask
        # genuine read failures - bad path, permissions, corrupt
        # footers - as a silently-empty stream (r5 ADVICE). Any real
        # read error now propagates.
        committed = any(
            f.endswith(".parquet") or f.startswith("part-")
            for _, _, files in os.walk(path)
            for f in files
        )
        if not committed:
            return spark.createDataFrame([], stream_df.schema)
        return spark.read.schema(stream_df.schema).parquet(path)
    name = f"bps_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # The DataFrame keeps the sink's rows; the view would keep them for the
    # session's life, one per build.
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df
