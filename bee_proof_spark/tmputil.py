"""The engine's tmp tree and the file-tree helpers behind it.

Everything the engine writes lives under one root,
``<tempdir>/<TMP_ROOT>``: the per-run tree ManifestRunner.java:172-175
builds and resets. Two kinds of entry live there:

- per-run dirs (``warehouse``, ``scratch``, ``logs``) that
  ``session.reset_tmp_tree`` empties;
- per-process dirs, ``<kind>/pid<N>`` from :func:`pid_dir` (sink scratch,
  parquet stream sinks, family stages, bucketed tables), and the shared
  ``stream-src`` replay snapshots, each reclaimed by an aged sweep.

The rules that keep a LIVE run's data safe are encoded here once
(:func:`sweep_aged_dirs`):

- an entry is only removed once it ages past ``max_age_s``;
- the caller's own current path(s) are exempt outright;
- a ``keep(path, age_s)`` predicate lets the caller protect entries the age
  gate alone can't judge (a live pid's dir, a complete snapshot that gets a
  longer grace period).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Iterable

TMP_ROOT = "bee-proof-tmp"


def tree_bytes(path: str) -> int:
    """Sum of the sizes of every file at or under ``path`` (0 if missing).
    Files that vanish mid-walk count 0."""
    if os.path.isfile(path):
        try:
            return os.path.getsize(path)
        except OSError:
            return 0
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def sweep_aged_dirs(
    parent: str,
    *,
    exempt: Iterable[str] = (),
    max_age_s: float = 3600,
    keep: Callable[[str, float], bool] | None = None,
) -> None:
    """Remove entries of ``parent`` older than ``max_age_s`` (best-effort).

    ``exempt`` paths are never removed; ``keep(path, age_s)`` returning True
    protects an entry. All OS errors are swallowed - reclamation must never
    fail the query that triggered it.
    """
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    exempt_set = set(exempt)
    now = time.time()
    for name in entries:
        p = os.path.join(parent, name)
        if p in exempt_set:
            continue
        try:
            age = now - os.stat(p).st_mtime
        except OSError:
            continue
        if age <= max_age_s:
            continue
        if keep is not None and keep(p, age):
            continue
        shutil.rmtree(p, ignore_errors=True)


def pid_dir_alive(path: str) -> bool:
    """True if ``path``'s basename is pid<N> and process N is still running.

    Used to protect a LIVE process's sink dirs from reclamation even when it
    hasn't created a new sink in over the age gate (its lazily-evaluated
    read-back DataFrames may still reference files there).
    """
    name = os.path.basename(path)
    if not (name.startswith("pid") and name[3:].isdigit()):
        return False
    try:
        os.kill(int(name[3:]), 0)
        return True
    except ProcessLookupError:
        return False
    except (PermissionError, OSError):
        return True  # exists but not ours - treat as alive


def pid_dir(kind: str) -> str:
    """This process's own dir for ``kind``, ``<tempdir>/<TMP_ROOT>/<kind>/pid<N>``
    (not created).

    Sweeps ``kind`` first: a DEAD process's dir is reclaimed once it ages
    past an hour (crashed or exited runs never clean up after themselves).
    A live pid's dir never is, whatever its age: its lazily-read
    DataFrames may still reference files there.
    """
    base = os.path.join(tempfile.gettempdir(), TMP_ROOT, kind)
    mine = os.path.join(base, f"pid{os.getpid()}")
    sweep_aged_dirs(base, exempt=(mine,), max_age_s=3600, keep=lambda p, age: pid_dir_alive(p))
    return mine


def corpus_tag(sf_dir: str) -> str:
    """``<basename>-<md5(abspath)[:8]>``: names a fixture dir's derived files.
    The basename keeps paths readable; the abspath hash keeps same-named
    fixture dirs (``a/sf0.1``, ``b/sf0.1``) from sharing them."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"{os.path.basename(sf_dir.rstrip('/')) or 'fixture'}-{tag}"
