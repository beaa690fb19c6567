"""Streaming semantics tests: watermark late-data drop with controlled
micro-batch ordering, replay harness behavior, and the stateful sessionizer.

The late-data test is the one that proves *streaming* semantics (not just
batch window()): an event arriving after the watermark passed its window
must be dropped, so the emitted count differs from the batch answer.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from bee_proof_spark.streaming import run_to_memory_sink


def test_watermark_drops_late_data(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(name: str, rows, mtime: float):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")
        for root, _, files in os.walk(f"{src}/{name}"):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))

    import datetime as dt

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    now = time.time()
    # Watermark mechanics (Spark): the watermark used during batch N derives
    # from data through batch N-1, and a window's state is evicted+emitted at
    # the END of the first batch running with wm >= window.end. Dropping is
    # only guaranteed for rows arriving AFTER their window was evicted - so
    # the late row goes in its own final batch:
    #   b1 {10:05}          wm=epoch
    #   b2 {13:00}          wm=09:05
    #   b3 {13:30}          wm=12:00 -> end of b3 evicts+emits [10:00,11:00) n=1
    #   b4 {10:30 late}     wm=12:30 -> state gone, row dropped
    write_file("b1", [(1, t("2024-01-01 10:05:00"))], now - 180)
    write_file("b2", [(2, t("2024-01-01 13:00:00"))], now - 120)
    write_file("b3", [(3, t("2024-01-01 13:30:00"))], now - 60)
    write_file("b4", [(4, t("2024-01-01 10:30:00")), (5, t("2024-01-01 14:00:00"))], now)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n")
    )
    result = {
        r["window_start"]: r["n"]
        for r in run_to_memory_sink(counts, output_mode="append").collect()
    }
    # the late event 3 was dropped: the 10:00 window emitted with count=1
    assert result.get("2024-01-01 10:00:00") == 1
    # batch semantics would have said 2 - assert we genuinely diverge
    batch = (
        spark.read.parquet(f"{src}/*")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n")
    )
    batch_counts = {r["window_start"]: r["n"] for r in batch.collect()}
    assert batch_counts["2024-01-01 10:00:00"] == 2


def test_stateful_sessionizer_counts_match_gap_semantics(spark, sf_smoke):
    """Closed sessions from the stateful operator must agree with the batch
    gaps-and-islands sessionization for every (user, session_start) it emits
    (open sessions at end-of-replay legitimately stay unemitted)."""
    from bee_proof_spark.queries import load_all, tbl

    out = load_all()["stream_session_stateful"].builder(spark, sf_smoke)
    got = {
        (r["user_id"], r["session_start_ms"]): r["n_events"] for r in out.collect()
    }
    assert got, "no sessions closed"

    # NTZ -> TIMESTAMP cast is wall-clock identity under the session's
    # pinned UTC timezone, so unix_millis yields the same naive-UTC epoch
    # the operator's datetime64[ms] state uses.
    e = tbl(spark, sf_smoke, "events").withColumn(
        "tms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("tms")
    gap = F.col("tms") - F.lag("tms").over(w)
    batch = (
        e.withColumn("is_new", F.when(gap.isNull() | (gap > 1800000), 1).otherwise(0))
        .withColumn("session_no", F.sum("is_new").over(w))
        .groupBy("user_id", "session_no")
        .agg(F.min("tms").alias("start_ms"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expected = {
        (r["user_id"], r["start_ms"]): r["n"] for r in batch
    }
    mismatches = {k: (v, expected.get(k)) for k, v in got.items() if expected.get(k) != v}
    assert not mismatches, f"sessionizer diverges from batch: {list(mismatches.items())[:5]}"


def test_verification_api_end_to_end(spark, tmp_path, capsys):
    """Ruby-gem-parity public API: for_release -> add_task -> run, dry-run
    default, ${VAR} substitution, output protocol."""
    from bee_proof_spark.runner.verification import Verification

    script = tmp_path / "job.hql"
    script.write_text(
        "CREATE TABLE vapi_t (a INT);\nSELECT ${X} AS x;\n"
    )
    v = Verification.for_release("emr-5")
    v.verbose_output = True
    v.add_task(str(script), {"X": "7"})
    lines: list[str] = []
    v.run(spark=spark, out=lines.append)
    text = "\n".join(lines)
    assert ">>>>>>>> Processing:" in text
    assert "> Skipped!" in text  # dry-run skips the query
    assert "> Total time:" in text

    with pytest.raises(ValueError):
        Verification.for_release("emr-99")


def test_streaming_state_partitions_sizing(tmp_path, monkeypatch):
    """State-partition sizing: floor of 8 on small fixtures, row-scaled
    above it and capped relative to the session's cores, explicit
    SPARK_GRAFT_SHUFFLE wins, and a missing events table falls back to the
    session default (None)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.streaming import streaming_state_partitions
    from bee_proof_spark.streaming.replay import _streaming_partitions_for_rows

    # the pure curves per state profile: commit-bound floor below ~2M rows,
    # state-scaled above, capped relative to cores (the measured ladders
    # behind each, see the docstring); the core count is passed in, so the
    # asserts don't depend on the host
    f = _streaming_partitions_for_rows
    assert f(100_000, cores=32) == 8       # sf0.1
    assert f(1_000_000, cores=32) == 8     # 10x
    assert f(10_000_000, cores=32) == 32   # 100x
    assert f(100_000_000, cores=32) == 128  # 1000x: 4x cap
    assert f(10**9, cores=32) == 128       # cap binds
    # join profile: same curve, capped at 1x cores (U-minimum at cores)
    assert f(1_000_000, "join", cores=32) == 8
    assert f(100_000_000, "join", cores=32) == 32
    # agg profile: partial combine makes width a pure commit multiplier
    assert f(100_000_000, "agg", cores=32) == 8
    # cluster-sized session
    assert f(100_000_000, "insert_heavy", cores=512) == 512
    assert f(100_000_000, "join", cores=512) == 512

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)

    # single-file fixture (the driver's layout): footer row count, no scan
    small = tmp_path / "small"
    small.mkdir()
    pq.write_table(
        pa.table({"event_id": list(range(10))}),
        str(small / "events.parquet"),
    )
    assert streaming_state_partitions(str(small), cores=32) == 8

    # directory fixture (the scale ladder's layout): rows sum across parts
    big = tmp_path / "big"
    (big / "events.parquet").mkdir(parents=True)
    for i in range(2):
        pq.write_table(
            pa.table({"event_id": list(range(5))}),
            str(big / "events.parquet" / f"part-0000{i}.parquet"),
        )
    assert streaming_state_partitions(str(big), cores=32) == 8

    # explicit shuffle override: the session already carries it, don't fight
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "16")
    assert streaming_state_partitions(str(small), cores=32) is None
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE")

    # no events table -> keep the session default
    empty = tmp_path / "empty"
    empty.mkdir()
    assert streaming_state_partitions(str(empty), cores=32) is None


def test_unknown_row_count_is_none_and_routes_to_parquet_sink(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """An unreadable footer makes the events catalog rows None (never a
    partial or zero count), and run_to_memory_sink treats None (unknown
    input size) conservatively: the parquet sink, because guessing "small"
    on a 100M-row fixture re-triggers the driver.maxResultSize abort the
    spill exists to prevent (r5 ADVICE, tightened r6)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import table_info
    from bee_proof_spark.streaming import replay

    # one good part + one corrupt part -> None, not a partial 5
    bad = tmp_path / "bad"
    (bad / "events.parquet").mkdir(parents=True)
    pq.write_table(
        pa.table({"event_id": list(range(5))}),
        str(bad / "events.parquet" / "part-00000.parquet"),
    )
    (bad / "events.parquet" / "part-00001.parquet").write_bytes(b"not parquet")
    assert table_info(str(bad), "events").rows is None

    # input_rows=None takes the parquet sink even though the stream is tiny
    sink_dirs: list[str] = []
    real_sink_dir = replay._parquet_sink_dir
    monkeypatch.setattr(
        replay,
        "_parquet_sink_dir",
        lambda: sink_dirs.append(real_sink_dir()) or sink_dirs[-1],
    )
    df = replay.replay_events_stream(spark, sf_smoke).select(
        "event_id", "user_id"
    )
    got = sorted(
        map(tuple, run_to_memory_sink(df, input_rows=None).collect())
    )
    assert len(sink_dirs) == 1  # parquet branch taken
    want = sorted(
        map(tuple, run_to_memory_sink(df, input_rows=0).collect())
    )
    assert got == want


def test_parquet_sink_spill_matches_memory_sink(spark, sf_smoke, monkeypatch):
    """Above _PARQUET_SINK_ROWS an append stream sinks to scratch parquet
    (the memory sink is a driver collect and aborts on driver.maxResultSize
    at the 100M-event probe decade); the spilled result must be row-for-row
    identical to the memory-sink result, and the sink leaves no checkpoint
    behind."""
    import glob

    from bee_proof_spark.queries import load_all
    from bee_proof_spark.streaming import replay
    from bee_proof_spark.tmputil import pid_dir

    reg = load_all()
    via_memory = sorted(
        map(tuple, reg["stream_dedup_state"].builder(spark, sf_smoke).collect())
    )
    monkeypatch.setattr(replay, "_PARQUET_SINK_ROWS", 1)
    via_parquet = sorted(
        map(tuple, reg["stream_dedup_state"].builder(spark, sf_smoke).collect())
    )
    assert via_parquet == via_memory
    # the sink's checkpoint goes once the query ends; its rows stay
    assert glob.glob(os.path.join(pid_dir("stream-sink"), "*.ckpt")) == []


def test_watermark_boundary_window_emitted(spark, tmp_path):
    """Pin Spark's append-mode emission boundary: a window whose end EQUALS
    the final watermark (max ts hour-aligned, so watermark = max ts - 1h =
    window_end exactly) IS emitted - i.e. the predicate is <=, not <. The
    stream_watermark_late oracle encodes exactly this (<= against the
    ms-floored max ts); if a Spark upgrade ever flips the boundary, this
    fails before the driver sweep does."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    src = tmp_path / "src"
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 10, 0, 5),), (datetime(2024, 1, 1, 10, 30, 0),)],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    # lone max event at 12:00:00.000000 exactly -> watermark 11:00 ==
    # the end of window [10:00, 11:00)
    spark.createDataFrame(
        [(datetime(2024, 1, 1, 12, 0, 0),)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("string").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_boundary_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["ws"]: r["n"] for r in spark.table("wm_boundary_sink").collect()}
    assert rows == {"2024-01-01 10:00:00": 2}


def test_dedup_state_evicts_expired_buckets(spark, sf_smoke):
    """stream_dedup_state's watermark rides ON the truncated hour column
    (date_trunc strips event-time metadata, so watermarking ts upstream
    left the key columns metadata-free and StreamingDeduplicateExec never
    evicted - r5 ADVICE finding: numRowsRemoved=0, all keys live forever).
    Pin that eviction now fires AND the emitted key set still equals the
    batch DISTINCT."""
    from bee_proof_spark.streaming import replay_events_stream

    stream = replay_events_stream(spark, sf_smoke)
    deduped = (
        stream.withColumn("hour", F.date_trunc("hour", "ts"))
        .withWatermark("hour", "1 hour")
        .dropDuplicates(["user_id", "event_type", "hour"])
        .select("user_id", "event_type", "hour")
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("evict_probe_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    removed = sum(
        so.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    max_state = max(
        (
            so.get("numRowsTotal", 0)
            for p in q.recentProgress
            for so in p.get("stateOperators", [])
        ),
        default=0,
    )
    expected = (
        spark.read.parquet(os.path.join(sf_smoke, "events.parquet"))
        .select("user_id", "event_type", F.date_trunc("hour", "ts").alias("hour"))
        .distinct()
        .count()
    )
    assert removed > 0, "watermark on the bucket column must evict old buckets"
    # bounded state: live rows never approach the full distinct key count
    # (sf0.001 measured: max 251 live vs 994 total keys, 993 evicted)
    assert max_state < expected
    assert deduped.sparkSession.table("evict_probe_sink").count() == expected


def test_stream_start_leaves_session_conf_and_runs_at_state_width(
    spark, sf_smoke, monkeypatch
):
    """The stream helper sets its conf on the stream's own session: once
    the builder returns, the caller's shuffle width and checkpoint manager
    are what they were, yet every batch's state operator ran at the
    requested width, and a listener on the caller saw every batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    from bee_proof_spark.queries import load_all
    from bee_proof_spark.streaming import streaming_state_partitions

    # the ==8 assertion below reads the real sizing path; an inherited
    # SPARK_GRAFT_SHUFFLE would override it and fail spuriously (r5 ADVICE)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.checkpointFileManagerClass",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    # a session already at 8 would make the width check below vacuous
    assert before["spark.sql.shuffle.partitions"] != "8"
    cores = spark.sparkContext.defaultParallelism
    assert streaming_state_partitions(sf_smoke, cores=cores) == 8

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.append(str(event.runId))

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        df = load_all()["stream_dedup_state"].builder(spark, sf_smoke)
        assert {k: spark.conf.get(k, None) for k in keys} == before
        # listener events arrive asynchronously, in order: once the stream's
        # termination is seen, so is every one of its progress reports
        deadline = time.monotonic() + 60
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    assert df.count() > 0
    assert len(listener.terminated) == 1
    batches = [p for p in listener.progress if p["runId"] == listener.terminated[0]]
    widths = [op["numShufflePartitions"] for p in batches for op in p["stateOperators"]]
    assert batches and len(widths) == len(batches)
    assert set(widths) == {8}


def test_stream_build_leaves_the_callers_width_alone(spark, sf_smoke, monkeypatch):
    """While a stateful stream builds, a thread polling the caller's
    session sees only the session's own ``spark.sql.shuffle.partitions``:
    the stream's width is set on its clone, never on the caller, so a
    batch query planned meanwhile on another thread keeps its width."""
    import threading

    from bee_proof_spark.queries import load_all

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    key = "spark.sql.shuffle.partitions"
    own = spark.conf.get(key)
    # a session already at the stream's width (8) would make this vacuous
    assert own != "8"
    seen: set[str] = set()
    done = threading.Event()

    def poll() -> None:
        while not done.is_set():
            seen.add(spark.conf.get(key))

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        load_all()["stream_dedup_state"].builder(spark, sf_smoke)
    finally:
        done.set()
        poller.join(timeout=60)
    assert not poller.is_alive()
    assert seen == {own}


def test_stream_runs_in_a_clone_with_runtime_conf_and_listeners(spark, sf_smoke):
    """A replay stream runs in a clone of the caller's session (the JVM
    session's ``cloneSession()``), not in the caller's. The clone keeps
    conf set at runtime, here the session time zone, which
    ``newSession()`` would drop. The caller's streaming listeners, read
    with ``streams().listListeners()``, are added to the clone, so a
    listener on the caller gets the stream's terminated event."""
    from pyspark.sql.streaming import StreamingQueryListener

    from bee_proof_spark.streaming import replay_events_stream

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.terminated: list[str] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated.append(str(event.runId))

    key, zone = "spark.sql.session.timeZone", "Asia/Tokyo"
    own = spark.conf.get(key)
    assert own != zone
    replay_events_stream(spark, sf_smoke)  # the snapshot, in the session's own zone
    listener = Listener()
    spark.conf.set(key, zone)
    spark.streams.addListener(listener)
    try:
        stream = replay_events_stream(spark, sf_smoke).select("event_id")
        clone = stream.sparkSession
        assert clone is not spark
        assert clone.conf.get(key) == zone
        listeners = [
            {str(x) for x in s._jsparkSession.streams().listListeners()}
            for s in (spark, clone)
        ]
        assert listeners[0] and listeners[0] <= listeners[1]
        assert run_to_memory_sink(stream).count() > 0
        deadline = time.monotonic() + 60
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, own)
    assert len(listener.terminated) == 1


def test_memory_sink_leaves_no_view(spark, sf_smoke):
    """The memory sink's temp view is dropped once the DataFrame is taken:
    two builds leave no ``bps_sink_*`` view, and each result still reads
    the sink's rows."""
    from bee_proof_spark.queries import load_all

    build = load_all()["stream_dedup_state"].builder
    first, second = build(spark, sf_smoke), build(spark, sf_smoke)
    assert [t.name for t in spark.catalog.listTables() if t.name.startswith("bps_sink_")] == []
    assert first.count() == second.count() > 0


def test_restart_resumes_from_its_checkpoint(spark, tmp_path):
    """A second AvailableNow run on the same checkpointLocation finds every
    offset committed: it reads 0 rows and emits nothing new. Pins the round
    trip of the offset, commit and state logs through the checkpoint
    manager the stream helper installs."""
    from bee_proof_spark.streaming.replay import _stream_session

    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(src)

    def run():
        q = (
            _stream_session(spark, 3)
            .readStream.schema("id long, k long")
            .parquet(src)
            .dropDuplicates(["k"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(p["numInputRows"] for p in q.recentProgress)

    def sink_files():
        return sorted(f for f in os.listdir(out) if f.startswith("part-"))

    assert run() == 100
    files, rows = sink_files(), spark.read.parquet(out).count()
    assert files and rows == 7
    assert run() == 0
    assert sink_files() == files
    assert spark.read.parquet(out).count() == rows


def test_every_stream_starts_through_the_helper():
    """Every ``.readStream`` in the package is taken from a
    ``_stream_session(...)`` result, and only ``_stream_session`` sets the
    two stream keys. So every stream runs in its own clone, with the
    checkpoint manager and the state width set in one place; a stream
    read any other way would silently go back to Spark's fork-per-rename
    default, and a key set anywhere else would change a caller's session.
    The runner is left out: its ``SET`` statements change the caller's
    session on purpose, as a script's ``SET`` does in Hive."""
    import ast
    import pathlib

    import bee_proof_spark

    keys = {
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.checkpointFileManagerClass",
    }
    pkg = pathlib.Path(bee_proof_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if "runner" in path.relative_to(pkg).parts:
            continue
        tree = ast.parse(path.read_text(), str(path))
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and n.attr == "readStream":
                hit = ("reads", ast.unparse(n.value))
            elif (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("set", "unset")
                and ast.unparse(n.func.value).endswith("conf")
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value in keys
            ):
                hit = ("sets", n.args[0].value)
            else:
                continue
            fn = n
            while fn in parent and not isinstance(fn, ast.FunctionDef):
                fn = parent[fn]
            found.append((*hit, path.name, getattr(fn, "name", "<module>")))
    assert sorted(found) == sorted(
        [
            ("reads", "_stream_session(spark, width)", "replay.py", "replay_events_stream"),
            *(("sets", k, "replay.py", "_stream_session") for k in keys),
        ]
    )


def test_session_gap_boundary_exact_gap_merges(spark):
    """Pin Spark's session_window merge-at-exact-gap semantics: two events
    exactly gap seconds apart form ONE session, under both a fixed gap and
    an expression gap. The stream_session_batch / stream_session_dynamic_gap
    oracles encode this as a STRICT split (> 1800 / ev_ts > running max
    end); if a Spark upgrade ever makes the boundary exclusive, this fails
    before a fixture happens to contain an exact-boundary gap (the
    watermark twin is test_watermark_boundary_window_emitted)."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    # 10:00:00 and 10:30:00 exactly 1800 s apart; 'view' -> 30-min gap in
    # the dynamic query too, so both queries see an exact-boundary pair.
    df = spark.createDataFrame(
        [
            (1, "view", datetime(2024, 1, 1, 10, 0, 0)),
            (1, "view", datetime(2024, 1, 1, 10, 30, 0)),
        ],
        schema,
    )
    fixed = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(fixed) == 1 and fixed[0]["n"] == 2
    gap = F.when(F.col("event_type") == "click", "10 minutes").otherwise(
        "30 minutes"
    )
    dyn = (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(dyn) == 1 and dyn[0]["n"] == 2
