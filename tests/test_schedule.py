"""Properties of the schedule order in __spark_entry__.

The external verify records CORRECTNESS rows for only the first ~50
entries of ``queries()`` per round, so dict order IS the test schedule. One
sort key sets it: oracled ids never hash-green in the ledger first, then greens
stalest round first, then the rows-only ids.

No Spark session needed - ordering is pure ledger arithmetic.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry


def _reload():
    return importlib.reload(entry)


def test_front50_spends_budget_on_never_tested_oracled_ids():
    e = _reload()
    green = e._green_rounds()
    front = e._ordered_ids()[:50]
    reg = e._REGISTRY
    assert all(reg[q].oracle is not None for q in front), "rows-only id in front-50"
    never = [i for i, q in enumerate(front) if q not in green]
    greens = [i for i, q in enumerate(front) if q in green]
    if never and greens:
        assert max(never) < min(greens)


def test_reverify_orders_stalest_green_first(monkeypatch):
    e = _reload()
    # Simulate the all-green world (every oracled id green, staggered rounds):
    # ids green in round 1 must sort before ids green in round 3.
    reg = e._REGISTRY
    oracled = [q for q in reg if reg[q].oracle is not None]
    fake = {q: 1 + (i % 3) for i, q in enumerate(oracled)}  # rounds 1..3
    monkeypatch.setattr(e, "_green_rounds", lambda: fake)
    ordered = e._ordered_ids()
    greens = [q for q in ordered if q in fake]
    rounds = [fake[q] for q in greens]
    assert rounds == sorted(rounds), "re-verify bucket must be staleness-sorted"
    pos = {q: i for i, q in enumerate(ordered)}
    for q in reg:
        if reg[q].oracle is None:
            assert pos[q] > max(pos[g] for g in greens), q


def test_never_green_first_and_rows_only_last(monkeypatch):
    e = _reload()
    reg = e._REGISTRY
    oracled = [q for q in reg if reg[q].oracle is not None]
    rows_only = [q for q in reg if reg[q].oracle is None]
    assert rows_only, "registry has no rows-only id to place"
    # the LAST registered oracled id is the only one never green: registry
    # index and family alone would not put it first
    never = oracled[-1]
    fake = {q: 1 + (i % 3) for i, q in enumerate(oracled[:-1])}
    monkeypatch.setattr(e, "_green_rounds", lambda: fake)
    ordered = e._ordered_ids()
    assert ordered[0] == never
    pos = {q: i for i, q in enumerate(ordered)}
    assert min(pos[q] for q in rows_only) > max(pos[q] for q in oracled)
    assert list(e.queries()) == ordered
    assert list(e.oracle_sql()) == [q for q in ordered if q in set(oracled)]


def test_oracle_sql_covers_exactly_the_oracled_ids():
    e = _reload()
    reg = e._REGISTRY
    osql = e.oracle_sql()
    assert set(osql) == {q for q in reg if reg[q].oracle is not None}
    assert len(e.queries()) == len(reg)


_NO_SUBPROCESS_PROBE = """
import json, subprocess, sys
assert "pytest" not in sys.modules
spawned = []
def deny(*args, **kwargs):
    spawned.append(repr(args[0] if args else kwargs.get("args")))
    raise OSError("queries() must not start a process")
subprocess.Popen = deny
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as e
n = (len(e.queries()), len(e.oracle_sql()))
print(json.dumps({"sizes": n, "spawned": spawned}))
"""


def _git_status() -> str | None:
    out = subprocess.run(
        ["git", "-C", REPO, "status", "--porcelain"],
        capture_output=True, text=True, check=False,
    )
    return out.stdout if out.returncode == 0 else None


def test_queries_has_no_side_effects_outside_pytest():
    """queries()/oracle_sql() are pure functions of the registry and the
    committed ledger: called from a plain process (no pytest imported, no
    PYTEST_CURRENT_TEST) they start no child process and leave the
    working tree as it was."""
    env = {k: v for k, v in os.environ.items() if k != "PYTEST_CURRENT_TEST"}
    before = _git_status()
    out = subprocess.run(
        [sys.executable, "-c", _NO_SUBPROCESS_PROBE, REPO],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
        check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["spawned"] == []
    reg = entry._REGISTRY
    assert res["sizes"] == [len(reg), sum(s.oracle is not None for s in reg.values())]
    assert _git_status() == before
