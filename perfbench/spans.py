"""Per-layer tracing from outside the program, for the traced run only.

Spans are taken around the calls into each module of the engine by
wrapping the module attributes the callers look up at call time; nothing
inside ``bee_proof_spark`` changes. Spark's own per-task numbers come from
its event log, and streaming numbers from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from collections.abc import Callable


class Tracer:
    """Call counts and seconds per span name, counted only while active."""

    def __init__(self) -> None:
        self.calls: Counter[str] = Counter()
        self.secs: Counter[str] = Counter()
        self.counts: Counter[str] = Counter()
        self.active = False
        self._restore: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, name: str | Callable[..., str],
             on_result: Callable[[object], None] | None = None) -> None:
        """Replace ``owner.attr`` with a timed wrapper. ``name`` may be a
        function of the call's arguments; ``on_result`` sees each result."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            span = name(*args, **kwargs) if callable(name) else name
            t0 = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                self.calls[span] += 1
                self.secs[span] += time.perf_counter() - t0
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


def wrap_runner(tracer: Tracer, spark) -> None:
    """Spans around every module the runner calls into, plus the engine."""
    from bee_proof_spark.runner import executor
    from bee_proof_spark.runner.manifest import Manifest
    from bee_proof_spark.runner.setcmd import SetProcessor

    def count_violations(result) -> None:
        tracer.counts["runner.release_gates.violations"] += len(result)

    tracer.wrap(Manifest, "from_file", "runner.manifest.load")
    tracer.wrap(executor, "split_statements", "runner.splitter")
    tracer.wrap(executor, "substitute", "runner.substitution")
    tracer.wrap(executor, "release_violations", "runner.release_gates", count_violations)
    tracer.wrap(SetProcessor, "process", "runner.setcmd")
    tracer.wrap(executor, "classify", "runner.executor.classify")
    tracer.wrap(
        spark, "sql",
        lambda text, *a, **k: "engine.explain" if text.startswith("EXPLAIN ") else "engine.sql",
    )
    # the concrete class: Spark 4's classic DataFrame overrides collect()
    tracer.wrap(type(spark.range(0)), "collect", "engine.collect")


def streaming_listener(current_qid: Callable[[], str]):
    """A listener that keeps each stream's progress reports, keyed by the
    registry id whose builder started the stream. ``onQueryStarted`` runs
    synchronously inside ``start()``, so the id current at that moment is
    the stream's owner."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.owner: dict[str, str] = {}  # run id -> registry id
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            self.owner[str(event.runId)] = current_qid()

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return Listener()


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """Sum the micro-batch phases and state-store work over every batch.
    Row totals and memory are end-of-stream levels, summed over streams."""
    out: Counter[str] = Counter()
    last_state: dict[str, list[dict]] = {}
    for p in progress:
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.get("numInputRows", 0)
        d = p.get("durationMs", {})
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        out["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        ops = p.get("stateOperators", [])
        for op in ops:
            out["streaming.state_rows_updated"] += op.get("numRowsUpdated", 0)
            out["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
        last_state[p["runId"]] = ops
    for ops in last_state.values():
        for op in ops:
            out["streaming.state_rows_total"] += op.get("numRowsTotal", 0)
            out["streaming.state_memory_bytes"] += op.get("memoryUsedBytes", 0)
    return dict(out)


#: Task metrics summed per job group, from SparkListenerTaskEnd.
_TASK_FIELDS = (
    "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
)


def event_log_groups(path: str) -> dict[str, Counter]:
    """Per job group: jobs, stages that ran, tasks, and the task metrics.

    Stages and tasks belong to the group of the first job that listed the
    stage. Stream jobs carry the stream's run id as their group.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, Counter] = defaultdict(Counter)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                g = groups[stage_group.get(ev.get("Stage ID"), "")]
                g["tasks"] += 1
                g["executor_run_ms"] += m.get("Executor Run Time", 0)
                g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                g["jvm_gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return groups


def spark_totals(groups: dict[str, Counter], keep: Callable[[str], bool]) -> dict[str, float]:
    """``spark.*`` per-layer totals over the groups ``keep`` accepts."""
    tot: Counter[str] = Counter()
    for name, g in groups.items():
        if keep(name):
            tot.update(g)
    out = {f"spark.{k}": float(tot[k]) for k in _TASK_FIELDS}
    out["spark.off_jvm_ms"] = max(
        0.0, tot["executor_run_ms"] - tot["executor_cpu_ms"] - tot["jvm_gc_ms"])
    return out
