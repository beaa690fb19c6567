"""Tests for the benchmark itself: ``python3 -m pytest perfbench -q -p no:cacheprovider``
from the repository root.

The generator, the output checker and the CPU clock are tested without
Spark; the last test makes one full traced invocation (about a minute on
4 vCPUs).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixture  # noqa: E402
import hqlgen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from bee_proof_spark.runner.executor import StatementError, classify  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)

SF = "/data/sf0.01"  # never read: only substituted into the scripts


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("execute", [False, True])
def test_same_seed_gives_byte_identical_manifests(tmp_path, execute):
    d = str(tmp_path / "m")
    hqlgen.generate(5, d, SF, execute=execute, n_clean=2, faults=not execute)
    first = _files(d)
    shutil.rmtree(d)
    hqlgen.generate(5, d, SF, execute=execute, n_clean=2, faults=not execute)
    assert _files(d) == first
    shutil.rmtree(d)
    hqlgen.generate(6, d, SF, execute=execute, n_clean=2, faults=not execute)
    assert _files(d) != first


def test_same_seed_gives_the_same_fixture():
    a, b = fixture.tables(), fixture.tables()
    assert a.keys() == b.keys()
    assert all(a[name].equals(b[name]) for name in a)


def _protocol(spec, rows_for=None, fault_err=None):
    """What a correct runner prints for ``spec`` (and the error it raises):
    the verbose echo of each statement, then its output."""
    msgs, t = [], 0.0

    def out(line):
        nonlocal t
        t += 0.01
        msgs.append((t, line))

    err = None
    for script in spec.scripts:
        out(f">>>>>>>> Processing:  {script.path}")
        for n, st in enumerate(script.stmts):
            out(st.echo)
            if spec.fault is not None and n == spec.fault.index:
                err = fault_err or StatementError(script.path, spec.fault.line, st.echo, "x")
                break
            kind = classify(st.echo)
            if spec.execute and st.query:
                for r in (rows_for or {}).get(id(st), st.rows):
                    out(r)
            elif kind == "exec" and not spec.execute:
                out("> Skipped!")
            elif kind == "command":
                out("col\tint\tNULL")
        if err is not None:
            break
        out("")
        out("")
    out("> Total time:  10ms")
    msgs.append((t + 0.01, None))
    return msgs, err


def _error_count(specs, **kw) -> tuple[int, int]:
    ops = []
    for spec in specs:
        msgs, err = _protocol(spec, **kw.get(spec.path, {}))
        ops += worker.judge(spec, msgs, err, classify, StatementError)
    return len(ops), sum(not o.ok for o in ops)


def _execute_specs(tmp_path, seed=3):
    specs = hqlgen.generate(seed, str(tmp_path), SF, execute=True, n_clean=1)
    for spec in specs:  # rows DuckDB would give, without reading parquet
        for st in spec.scripts[0].stmts:
            if st.query:
                st.rows = sorted([f"a\t{len(st.echo)}", "b\t2"])
    return specs


def test_correct_runs_have_no_errors(tmp_path):
    dry = hqlgen.generate(3, str(tmp_path / "d"), SF, execute=False, n_clean=2, faults=True)
    attempted, failed = _error_count(dry)
    assert attempted > 60 and failed == 0
    attempted, failed = _error_count(_execute_specs(tmp_path / "e"))
    assert attempted > 30 and failed == 0


def test_a_planted_wrong_row_is_a_failure(tmp_path):
    specs = _execute_specs(tmp_path)
    spec = specs[0]
    query = next(st for st in spec.scripts[0].stmts if st.query)
    wrong = {id(query): query.rows[:-1] + ["b\t3"]}
    attempted, failed = _error_count(specs, **{spec.path: {"rows_for": wrong}})
    assert failed == 1 and failed / attempted > 0


def test_a_shifted_fault_line_is_a_failure(tmp_path):
    specs = hqlgen.generate(3, str(tmp_path), SF, execute=False, n_clean=1, faults=True)
    faulty = [s for s in specs if s.fault is not None]
    assert {s.fault.kind for s in faulty} == set(hqlgen.FAULT_KINDS)
    for spec in faulty:
        st = spec.scripts[0].stmts[spec.fault.index]
        shifted = StatementError(spec.fault.script, spec.fault.line + 1, st.echo, "x")
        _, failed = _error_count([spec], **{spec.path: {"fault_err": shifted}})
        assert failed == 1, spec.fault.kind


def test_a_missed_fault_is_a_failure(tmp_path):
    specs = hqlgen.generate(3, str(tmp_path), SF, execute=False, n_clean=1, faults=True)
    spec = next(s for s in specs if s.fault is not None)
    msgs, _ = _protocol(spec)
    ops = worker.judge(spec, msgs, None, classify, StatementError)
    assert sum(not o.ok for o in ops) == 1


def test_only_the_release_gate_fault_runs_under_emr3(tmp_path):
    from bee_proof_spark.runner.executor import _blank_literals_and_comments
    from bee_proof_spark.runner.release_gates import violations

    specs = hqlgen.generate(3, str(tmp_path), SF, execute=False, n_clean=2, faults=True)
    gated = [s for s in specs if s.release == "emr-3"]
    assert [s.fault.kind for s in gated] == ["release_gate"]
    st = gated[0].scripts[0].stmts[gated[0].fault.index]
    assert violations(_blank_literals_and_comments(st.echo), "emr-3")
    clean = [st for s in specs if s.fault is None for st in s.scripts[0].stmts]
    assert not any(violations(_blank_literals_and_comments(st.echo), "emr-3") for st in clean)


def _fake_result(trace: bool) -> dict:
    res = {
        "setup_s": 9.1, "first_pass_s": 12.0, "warm_passes_s": [6.0],
        "first_pass_cpu_s": 30.0, "warm_passes_cpu_s": [13.0],
        "warm_op_latencies_s": [0.01 * i for i in range(1, 101)], "peak_rss_mb": 900.0,
        "attempted": 10, "failed": 0, "failures": [], "cpus_effective": 4,
        "master": "local[4]", "shuffle_partitions": "32",
    }
    if trace:
        res["layer"] = {"engine.sql.calls": 3.0}
    return res


@pytest.mark.parametrize("trace, section", [(0, "end_to_end"), (1, "per_layer")])
def test_result_line_names_exactly_the_declared_metrics(trace, section):
    info, line = run.report(_fake_result(trace), 4, trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and info["error_rate"] == 0.0
    declared = {m["name"]: m["unit"] for m in BENCH[section]}
    assert {n: v["unit"] for n, v in line["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())


def test_cpus_other_than_nproc_is_a_failure():
    info, line = run.report(_fake_result(0), 8, 0)
    assert line["failed"] == 1 and info["error_rate"] > 0


def test_benchmark_json_follows_the_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(BENCH["per_layer"]) <= 128


def test_cpu_clock_counts_the_jvm_and_the_session(tmp_path):
    """The clock counts a busy process standing in for the JVM, and a busy
    grandchild the stand-in started and reaped."""
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    script = tmp_path / "stand_in.py"
    script.write_text(
        "import subprocess, sys, time\n"
        f"exec({busy!r})\n"
        f"subprocess.run([sys.executable, '-c', {busy!r}])\n"
        "time.sleep(30)\n")
    proc = subprocess.Popen([sys.executable, str(script)])
    try:
        clock = worker.CpuClock(proc.pid)
        snap = clock.snapshot()
        deadline = time.monotonic() + 20
        while clock.since(snap)["work"] < 0.75 and time.monotonic() < deadline:
            time.sleep(0.05)
        cpu = clock.since(snap)
        assert cpu["work"] >= 0.75 and cpu["jit"] == cpu["gc"] == 0.0
    finally:
        proc.kill()
        proc.wait()


def test_refuses_engine_size_knobs():
    env = dict(os.environ, BEE_PROOF_FAMILY_DISK_BYTES="1")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and '"correct"' not in p.stdout


def _git_status() -> str | None:
    try:
        p = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                           capture_output=True, text=True, timeout=60)
    except FileNotFoundError:
        return None
    return p.stdout if p.returncode == 0 else None


def test_traced_runner_run_is_correct_and_leaves_the_tree_clean():
    before = _git_status()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "hql", "--seed", "7",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0  # includes: dry-run wrote 0 bytes
    m = {k: v["value"] for k, v in line["metrics"].items()}
    assert m["warehouse.bytes_written"] > 0  # the execute manifest's writes
    assert m["engine.explain.calls"] > 0 and m["runner.release_gates.violations"] >= 1
    assert m["engine.collect_s"] > 0 and m["runner.executor.stmts.exec"] > 0
    assert m["traced.first_pass_s"] > 0 and m["traced.warm_pass_s"] > 0
    assert m["traced.first_pass_cpu_s"] > m["traced.warm_pass_cpu_s"] > 0
    assert m["jvm.jit_cpu_s"] > 0
    if before is not None:
        assert _git_status() == before
