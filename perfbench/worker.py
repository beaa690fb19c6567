"""One benchmark process: set up a session, time a first pass and warm
passes of one workload, then check every output.

Started by ``run.py`` as ``python3 perfbench/worker.py <spec.json>
<spawn time>``, where the spawn time is ``time.monotonic()`` in the parent
just before the process was created (the clock is system-wide), so
``setup_s`` covers interpreter start, imports and session build.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))

#: Benched registry ids whose first pass builds a family-checkpoint stage.
STAGING_IDS = ("ext_dedup_fuzzy",)


@dataclass
class Op:
    """One statement or query: its latency and whether its output was right."""

    kind: str
    seconds: float
    ok: bool
    note: str = ""
    ran: bool = True


class CpuClock:
    """CPU seconds used by this process, the driver JVM and every other
    process of the worker's session (the Python workers Spark starts).

    Unlike wall time it leaves out time the host gives to other tenants: the
    kernel accounts stolen time apart from a task's run time, and a thread
    waiting for a core uses none. The JVM's JIT compiler threads are
    counted apart: they compile in the background beside the work, and how
    far they get in a pass depends on how busy the host is.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.jvm_clock = ((~jvm_pid) << 3) | 2  # CPUCLOCK_SCHED of the whole process
        self.hz = os.sysconf("SC_CLK_TCK")
        self.sid = os.getsid(0)

    def total(self) -> float:
        """CPU seconds so far of the whole session, reaped children included.
        This process and the JVM are read at nanosecond resolution, the
        others from ``/proc`` at clock-tick resolution."""
        ticks = 0
        for name in os.listdir("/proc"):
            if not name.isdigit() or int(name) == os.getpid():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # ended meanwhile
            if int(fields[3]) != self.sid:
                continue
            ticks += int(fields[13]) + int(fields[14])  # cutime, cstime
            if int(name) != self.jvm_pid:
                ticks += int(fields[11]) + int(fields[12])  # utime, stime
        return time.process_time() + time.clock_gettime(self.jvm_clock) + ticks / self.hz

    def jvm_threads(self) -> dict[str, tuple[str, float]]:
        """Thread id -> (kind, CPU seconds so far, at clock-tick resolution)
        of the JVM's live JIT compiler (``jit``) and garbage collector
        (``gc``) threads."""
        out = {}
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/stat", encoding="utf-8", errors="replace") as f:
                    raw = f.read()
            except OSError:
                continue  # ended meanwhile
            comm, fields = raw[raw.index("(") + 1: raw.rindex(")")], raw.rsplit(")", 1)[1].split()
            kind = ("jit" if "Compiler" in comm else
                    "gc" if comm.startswith(("GC ", "G1 ", "VM Thread")) else None)
            if kind is not None:
                out[tid] = (kind, (int(fields[11]) + int(fields[12])) / self.hz)
        return out

    def snapshot(self) -> tuple[float, dict[str, tuple[str, float]]]:
        return self.total(), self.jvm_threads()

    def since(self, snap) -> dict[str, float]:
        """CPU seconds since ``snap``: ``work`` (everything but the JIT
        compiler threads), ``jit`` and ``gc``. The JVM must keep its
        compiler threads (``-XX:-UseDynamicNumberOfCompilerThreads``): the
        CPU of a thread that ended meanwhile would count as work."""
        total0, threads0 = snap
        total1, threads1 = self.snapshot()
        out = {"jit": 0.0, "gc": 0.0}
        for tid, (kind, secs) in threads1.items():
            out[kind] += secs - threads0.get(tid, (kind, 0.0))[1]
        out["work"] = total1 - total0 - out["jit"]
        return out


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def judge(spec, msgs: list[tuple[float, str | None]], err: Exception | None,
      classify, statement_error: type) -> list[Op]:
    """Split one manifest run's output protocol into statements at the
    runner's verbose echo, time each statement up to the next protocol line,
    and check its output (and the seeded fault) against ``spec``.

    ``msgs`` are ``(time, line)`` pairs as the runner printed them, closed
    by ``(time, None)``; ``err`` is what ``run_manifest`` raised, if
    anything. Statements that should have run but did not are failed ops.
    """
    expected = []
    for script in spec.scripts:
        stmts = script.stmts
        if spec.fault is not None:
            stmts = stmts[: spec.fault.index + 1]
        expected += stmts
    started: list[tuple[float, list[str], float]] = []  # (start, outputs, end)
    i = 0
    for t, line in msgs:
        if started and started[-1][2] < 0 and (
            line is None or line == "" or line.startswith(">>>>>>>> Processing:")
            or line.startswith("> Total time:")
            or (i < len(expected) and line == expected[i].echo)
        ):
            start, outs, _ = started[-1]
            started[-1] = (start, outs, t)
        if line is not None and i < len(expected) and line == expected[i].echo:
            started.append((t, [], -1.0))
            i += 1
        elif line is not None and started and started[-1][2] < 0:
            started[-1][1].append(line)
    ops = []
    for n, stmt in enumerate(expected):
        kind = classify(stmt.echo)
        if n >= len(started):
            ops.append(Op(kind, 0.0, False, f"{spec.path}: line {stmt.line} never ran", ran=False))
            continue
        start, outs, end = started[n]
        seconds = end - start
        if spec.fault is not None and n == len(expected) - 1:
            ok = (isinstance(err, statement_error) and err.line == spec.fault.line
                  and os.path.abspath(err.script) == os.path.abspath(spec.fault.script)
                  and len(started) == len(expected))
            note = "" if ok else f"{spec.fault.kind} expected at line {spec.fault.line}, got {err!r}"
        elif spec.execute and stmt.query:
            ok = sorted(outs) == stmt.rows
            note = "" if ok else f"line {stmt.line}: rows differ from DuckDB"
        elif kind == "command":
            ok, note = True, ""
        elif kind == "exec" and not spec.execute:
            ok = outs == ["> Skipped!"]
            note = "" if ok else f"line {stmt.line}: dry-run printed {outs[:2]!r}"
        else:
            ok = outs == []
            note = "" if ok else f"line {stmt.line}: unexpected output {outs[:2]!r}"
        if ok and n == len(started) - 1 and err is not None and spec.fault is None:
            ok, note = False, f"line {stmt.line}: {err}"
        ops.append(Op(kind, seconds, ok, note))
    return ops


class HqlWorkload:
    """The runner path: one pass runs every generated manifest in order."""

    def __init__(self, spark, spec: dict, tracer, clock: CpuClock):
        sys.path.insert(0, HERE)
        import hqlgen
        from bee_proof_spark.runner.executor import StatementError, classify, run_manifest
        from bee_proof_spark.runner.manifest import Manifest

        self.spark = spark
        self.tracer = tracer
        self.clock = clock
        self.classify = classify
        self.run_manifest = run_manifest
        self.Manifest = Manifest
        self.StatementError = StatementError
        # the dry-run manifests come first, then the execute manifests
        self.specs = hqlgen.from_json(spec["hql"])
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.kind_stats: Counter[str] = Counter()
        self.layer: Counter[str] = Counter()

    def _reset(self) -> None:
        """Empty catalog and warehouse, so every pass does the same work."""
        for t in self.spark.catalog.listTables():
            if not t.isTemporary:
                self.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        os.makedirs(self.warehouse, exist_ok=True)

    def run_pass(self, label: str) -> tuple[float, dict[str, float], list[Op]]:
        if label != "first":  # the session starts with both empty
            self._reset()
        self.spark.sparkContext.setJobGroup(f"{label}:hql", f"{label} pass")
        captures = []
        dry_written = 0
        self.tracer.active = True
        snap = self.clock.snapshot()
        t0 = time.perf_counter()
        for n, spec in enumerate(self.specs):
            if spec.execute and not self.specs[n - 1].execute:
                dry_written = _tree_size(self.warehouse)[0]
            msgs: list[tuple[float, str | None]] = []
            err: Exception | None = None
            try:
                manifest = self.Manifest.from_file(spec.path)
                self.run_manifest(manifest, self.spark,
                                  out=lambda line, m=msgs: m.append((time.perf_counter(), line)),
                                  release=spec.release)
            except Exception as ex:  # judged against the spec below
                err = ex
            msgs.append((time.perf_counter(), None))
            captures.append((spec, msgs, err))
        seconds = time.perf_counter() - t0
        cpu = self.clock.since(snap)
        self.tracer.active = False
        written, files = _tree_size(self.warehouse)
        self.layer["warehouse.bytes_written"] += written
        self.layer["warehouse.files_written"] += files
        ops = [Op("check", 0.0, dry_written == 0,
                  "" if dry_written == 0 else f"dry-run wrote {dry_written} bytes to the warehouse")]
        for spec, msgs, err in captures:
            ops += judge(spec, msgs, err, self.classify, self.StatementError)
        for o in ops:
            if o.ran and o.kind != "check":
                self.kind_stats[f"stmts.{o.kind}"] += 1
                self.kind_stats[f"stmt_s.{o.kind}"] += o.seconds
        return seconds, cpu, ops

    def check(self) -> list[Op]:
        return []

    def owner(self, group: str) -> str:
        return ""

    def layer_metrics(self, groups, keep_group) -> dict[str, float]:
        out = {f"runner.executor.{k}": float(v) for k, v in self.kind_stats.items()}
        out.update({k: float(v) for k, v in self.layer.items()})
        eng = Counter()
        for name, g in groups.items():
            if name.endswith(":hql"):
                eng.update(g)
        for k in ("jobs", "stages", "tasks"):
            out[f"engine.{k}"] = float(eng[k])
        return out


class RegistryWorkload:
    """The registry path: builder, then the noop-sink write, per query id."""

    def __init__(self, spark, spec: dict, tracer, clock: CpuClock):
        from bee_proof_spark.queries import load_all

        self.spark = spark
        self.clock = clock
        self.sf = spec["sf_dir"]
        self.registry = load_all()
        self.order = spec["registry"]
        self.current = "setup"
        self.times: dict[str, list[tuple[float, float]]] = {q: [] for q in self.order}
        self.first_frames: dict[str, object] = {}
        self.listener = None
        if spec["trace"]:
            sys.path.insert(0, HERE)
            from spans import streaming_listener

            self.listener = streaming_listener(lambda: self.current)
            spark.streams.addListener(self.listener)

    def run_pass(self, label: str) -> tuple[float, dict[str, float], list[Op]]:
        sc = self.spark.sparkContext
        ops = []
        snap = self.clock.snapshot()
        t0 = time.perf_counter()
        for qid in self.order:
            self.current = f"{label}:{qid}"
            sc.setJobGroup(f"{label}:build:{qid}", qid)
            tb = time.perf_counter()
            try:
                df = self.registry[qid].builder(self.spark, self.sf)
                tr = time.perf_counter()
                sc.setJobGroup(f"{label}:run:{qid}", qid)
                df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # counted as a failed query
                ops.append(Op(qid, time.perf_counter() - tb, False, f"{qid}: {ex!r}"[:300]))
                continue
            te = time.perf_counter()
            self.times[qid].append((tr - tb, te - tr))
            self.first_frames.setdefault(qid, df)
            ops.append(Op(qid, te - tb, True))
        seconds = time.perf_counter() - t0
        return seconds, self.clock.since(snap), ops

    def check(self) -> list[Op]:
        """The first pass's DataFrame of every id against its DuckDB oracle,
        untimed, after the passes. Handing ``compare_to_oracle`` the built
        frame checks what the timed pass wrote without running the builder
        (and a whole stream) again."""
        from dataclasses import replace

        from bee_proof_spark.testing import compare_to_oracle

        ops = []
        for qid in self.order:
            self.current = f"check:{qid}"
            self.spark.sparkContext.setJobGroup(f"check:{qid}", qid)
            if qid not in self.first_frames:
                continue  # its failed pass is already counted
            spec = replace(self.registry[qid],
                           builder=lambda spark, sf, df=self.first_frames[qid]: df)
            try:
                ok, msg = compare_to_oracle(self.spark, spec, self.sf)
            except Exception as ex:  # an oracle run that raises is a failure
                ok, msg = False, repr(ex)
            ops.append(Op(f"check:{qid}", 0.0, ok, "" if ok else msg[:300]))
        return ops

    def owner(self, group: str) -> str:
        return self.listener.owner.get(group, "") if self.listener else ""

    def layer_metrics(self, groups, keep_group) -> dict[str, float]:
        from spans import streaming_metrics

        out: Counter[str] = Counter()
        for qid, runs in self.times.items():
            build = sum(b for b, _ in runs)
            run = sum(r for _, r in runs)
            out[f"queries.{qid}.build_s"] = build
            out[f"queries.{qid}.run_s"] = run
            out["queries.build_s"] += build
            out["queries.run_s"] += run
            if qid in STAGING_IDS and len(runs) >= 2:
                out["queries.staging_s"] += sum(runs[0]) - sum(runs[1])
        for name, g in groups.items():
            if not keep_group(name):
                continue
            parts = name.split(":")
            qid = parts[2] if len(parts) == 3 else self.owner(name).split(":")[-1]
            step = parts[1] if len(parts) == 3 else "build"  # streams run inside builder()
            out[f"queries.{step}_jobs"] += g["jobs"]
            out["queries.stages"] += g["stages"]
            out["queries.tasks"] += g["tasks"]
            out[f"spark.{qid}.cpu_ms"] += g["executor_cpu_ms"]
            out[f"spark.{qid}.shuffle_write_bytes"] += g["shuffle_write_bytes"]
        if self.listener is not None:
            owned = [p for p in self.listener.progress
                     if not self.owner(p["runId"]).startswith("check:")]
            out.update(streaming_metrics(owned))
        return {k: float(v) for k, v in out.items()}


def main(argv: list[str]) -> int:
    t_spawn = float(argv[1])
    with open(argv[0], encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    from bee_proof_spark.session import build_session, reset_tmp_tree

    hql = spec["workload"] == "hql"
    if hql:
        import bee_proof_spark.runner.executor  # noqa: F401  (part of the runner's setup)
    else:
        import bee_proof_spark.queries  # noqa: F401
    layer: dict[str, float] = {}
    t0 = time.monotonic()
    if hql:
        reset_tmp_tree()
    t1 = time.monotonic()
    spark = build_session(app_name=f"perfbench-{spec['workload']}", extra_conf=spec["conf"])
    t2 = time.monotonic()
    result: dict = {"setup_s": t2 - t_spawn}
    layer["session.reset_tmp_tree_s"] = t1 - t0
    layer["session.build_s"] = t2 - t1
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    result["cpus_effective"] = sc.defaultParallelism
    result["master"] = sc.master
    result["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")

    sys.path.insert(0, HERE)
    from spans import Tracer, event_log_groups, spark_totals, wrap_runner

    tracer = Tracer()
    if spec["trace"] and hql:
        wrap_runner(tracer, spark)
    clock = CpuClock(sc._gateway.proc.pid)
    work = (HqlWorkload if hql else RegistryWorkload)(spark, spec, tracer, clock)
    ops: list[Op] = []
    first_s, first_cpu, first_ops = work.run_pass("first")
    ops += first_ops
    warm: list[float] = []
    warm_cpu: list[dict[str, float]] = []
    warm_lat: list[float] = []
    # the traced run makes one warm pass, so its per-layer totals cover
    # exactly a first and a warm pass
    while not warm or (not spec["trace"] and (
            len(warm) < spec["min_warm_passes"] or sum(warm) < spec["seconds"])):
        s, c, warm_ops = work.run_pass(f"warm{len(warm)}")
        warm.append(s)
        warm_cpu.append(c)
        warm_lat += [o.seconds for o in warm_ops if o.ran and o.kind != "check"]
        ops += warm_ops
    for kind in ("jit", "gc"):
        layer[f"jvm.{kind}_cpu_s"] = first_cpu[kind] + sum(c[kind] for c in warm_cpu)
    ops += work.check()
    result.update(
        first_pass_s=first_s,
        first_pass_cpu_s=first_cpu["work"],
        warm_passes_s=warm,
        warm_passes_cpu_s=[c["work"] for c in warm_cpu],
        warm_op_latencies_s=warm_lat,
        attempted=len(ops),
        failed=sum(not o.ok for o in ops),
        failures=[o.note for o in ops if not o.ok][:10],
        peak_rss_mb=_rss_peak_mb(os.getpid()) + _rss_peak_mb(sc._gateway.proc.pid),
    )
    if spec["trace"]:
        tracer.unwrap_all()
        for name in ("runner.manifest.load", "runner.executor.classify"):
            layer[f"{name}_s"] = tracer.secs[name]
        for name in ("runner.splitter", "runner.substitution", "runner.release_gates",
                     "runner.setcmd", "engine.sql", "engine.explain"):
            layer[f"{name}.calls"] = float(tracer.calls[name])
            layer[f"{name}.s"] = tracer.secs[name]
        layer["engine.collect_s"] = tracer.secs["engine.collect"]
        layer["runner.release_gates.violations"] = float(
            tracer.counts["runner.release_gates.violations"])
        sc.setJobGroup("done", "done")
        spark.stop()
        logs = [os.path.join(spec["eventlog_dir"], n) for n in os.listdir(spec["eventlog_dir"])]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        groups = event_log_groups(logs[0])

        def keep(group: str) -> bool:
            label = (group if ":" in group else work.owner(group)).split(":")[0]
            return label == "first" or label.startswith("warm")

        layer.update(spark_totals(groups, keep))
        layer.update(work.layer_metrics(groups, keep))
        result["layer"] = layer
    else:
        spark.stop()
    with open(spec["result"], "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
