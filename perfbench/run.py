"""Benchmark entry point: ``python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>``, run from the repository root.

Builds the fixture once per checkout, generates the workload's inputs from
the seed, starts one fresh worker process (``worker.py``) that times a
first pass and warm passes and checks every output, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Everything it writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import hqlgen  # noqa: E402

#: Registry ids the ``registry`` workload runs, in a seeded order: two
#: operator-bound batch ids (aggregate with a row shuffle, rank window),
#: one that stages a family checkpoint on its first pass, and one true
#: ``readStream`` id whose state store runs inside ``builder()``.
REGISTRY_IDS = [
    "tpch_q1_pricing",
    "win_rank_dense",
    "ext_dedup_fuzzy",
    "stream_dedup_state",
]

#: Clean manifests (one script each) per runner pass, by mode. The dry-run
#: manifests run first, then one faulty manifest per fault kind among them,
#: then the execute manifest.
HQL_DRY_MANIFESTS = 1
HQL_EXEC_MANIFESTS = 1

WORKLOADS = ("hql", "registry")

#: Warm passes a run makes at least (untraced); the run reports their median.
MIN_WARM_PASSES = {"hql": 2, "registry": 3}

#: Engine size knobs read from the environment. Only the core count and the
#: fixture directory may be set, and the benchmark sets both itself.
ALLOWED_KNOBS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")

WORKER_TIMEOUT_S = 170


def _percentile(values: list[float], pct: int) -> float:
    """Linearly interpolated percentile. A registry pass has only a few
    queries of very different cost, where a nearest-rank percentile would
    report one query's latency and jump between queries from run to run."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _refuse_knobs() -> None:
    bad = sorted(k for k in os.environ
                 if k.startswith(("SPARK_GRAFT_", "BEE_PROOF_")) and k not in ALLOWED_KNOBS)
    if bad:
        sys.exit(f"perfbench: unset the engine size knobs {bad} before benchmarking")


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait until every
    member has ended. The worker stops its session before it exits, so the
    JVM has nothing left to do; left alone it takes ~2 s to exit."""
    if _group_alive(proc.pid):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 30
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def _steal_s() -> float:
    """Host CPU time taken from this machine by other tenants, all CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_worker(spec: dict, run_dir: str, cpus: int) -> dict:
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w", encoding="utf-8") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # No JVM perf-data file: it would be the one write outside the checkout
    # (/tmp/hsperfdata_<user>), and a killed JVM would leave it behind.
    env = dict(os.environ, TMPDIR=tmp, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_SF_DIR=spec["sf_dir"], PYTHONDONTWRITEBYTECODE="1",
               SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w", encoding="utf-8") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, repr(t_spawn)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}")
    with open(spec["result"], encoding="utf-8") as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    _refuse_knobs()
    if not os.path.isdir(os.path.join(ROOT, "bee_proof_spark")):
        sys.exit("perfbench: no bee_proof_spark package beside perfbench/")
    cpus = len(os.sched_getaffinity(0))

    os.makedirs(WORK, exist_ok=True)
    sf_dir = fixture.ensure(os.path.join(WORK, "data", "sf0.01"))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        spark_dir = os.path.join(run_dir, "spark")
        # JIT compiler threads live as long as the JVM, so the worker can
        # read their CPU per thread and count it apart (worker.CpuClock).
        java_opts = (f"-Djava.io.tmpdir={spark_dir} -XX:-UsePerfData"
                     " -XX:-UseDynamicNumberOfCompilerThreads")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": spark_dir,
            "spark.driver.extraJavaOptions": java_opts,
        }
        eventlog_dir = os.path.join(run_dir, "eventlog")
        if args.trace:
            os.makedirs(eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file:" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spec = {
            "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
            "min_warm_passes": MIN_WARM_PASSES[args.workload],
            "root": ROOT, "sf_dir": sf_dir, "conf": conf, "eventlog_dir": eventlog_dir,
            "result": os.path.join(run_dir, "result.json"),
        }
        if args.workload == "hql":
            out = os.path.join(run_dir, "manifests")
            specs = hqlgen.generate(args.seed, out, sf_dir, execute=False,
                                    n_clean=HQL_DRY_MANIFESTS, faults=True)
            specs += hqlgen.generate(args.seed, out, sf_dir, execute=True,
                                     n_clean=HQL_EXEC_MANIFESTS)
            hqlgen.expect_rows(specs)
            spec["hql"] = hqlgen.to_json(specs)
        else:
            order = list(REGISTRY_IDS)
            random.Random(args.seed).shuffle(order)
            spec["registry"] = order
        steal0 = _steal_s()
        res = run_worker(spec, run_dir, cpus)
        res["host_steal_s"] = _steal_s() - steal0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    info, line = report(res, cpus, trace=args.trace)
    print(json.dumps({"perfbench_run": dict(info, workload=args.workload, seed=args.seed)}))
    print(json.dumps(line))
    return 0


def report(res: dict, cpus: int, trace: int) -> tuple[dict, dict]:
    """The run conditions line and the result line from a worker's result.

    Metric names and units come from ``BENCHMARK.json``: every end-to-end
    metric untraced, every per-layer metric traced (0 for a layer the
    workload does not touch).
    """
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    lat_ms = [s * 1000.0 for s in res["warm_op_latencies_s"]]
    failures = list(res["failures"])
    if res["cpus_effective"] != cpus:
        failures.append(f"cpus_effective {res['cpus_effective']} != nproc {cpus}")
    failed = res["failed"] + (res["cpus_effective"] != cpus)
    warm = statistics.median(res["warm_passes_s"])
    warm_cpu = statistics.median(res["warm_passes_cpu_s"])
    op_p50, op_p90 = _percentile(lat_ms, 50), _percentile(lat_ms, 90)
    info = {
        "trace": trace, "cpus_effective": res["cpus_effective"], "nproc": cpus,
        "master": res["master"], "shuffle_partitions": res["shuffle_partitions"],
        "error_rate": failed / res["attempted"], "warm_passes": len(res["warm_passes_s"]),
        "warm_passes_cpu_s": res["warm_passes_cpu_s"],
        "warm_ops": len(lat_ms), "host_steal_s": res.get("host_steal_s"),
        # wall-clock figures: what a user waits, but set by the host's other
        # tenants as much as by the program, so they carry no bound
        "first_pass_wall_s": res["first_pass_s"], "warm_pass_wall_s": warm,
        "op_p50_ms": op_p50, "op_p90_ms": op_p90,
        "failures": failures,
    }
    if trace:
        values = dict(res["layer"], **{"traced.first_pass_s": res["first_pass_s"],
                                       "traced.warm_pass_s": warm,
                                       "traced.first_pass_cpu_s": res["first_pass_cpu_s"],
                                       "traced.warm_pass_cpu_s": warm_cpu,
                                       "memory.peak_rss_mb": res["peak_rss_mb"],
                                       "ops.p50_ms": op_p50, "ops.p90_ms": op_p90})
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        values = {
            "setup_s": res["setup_s"],
            "first_pass_cpu_s": res["first_pass_cpu_s"],
            "warm_pass_cpu_s": warm_cpu,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    return info, {"correct": failed == 0, "attempted": res["attempted"],
                  "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
