"""Shared file-tree helpers: the size of a tree, and age-based reclamation
of scratch/snapshot dirs.

Two call sites (sink scratch dirs in queries/scans.py, stream-replay
snapshots in streaming/replay.py) reclaim other runs' leftovers. The rules
that keep a LIVE run's data safe are encoded here once:

- an entry is only removed once it ages past ``max_age_s``;
- the caller's own current path(s) are exempt outright;
- a ``keep(path, age_s)`` predicate lets the caller protect entries the age
  gate alone can't judge (a live pid's sink dir, a complete snapshot that
  gets a longer grace period).
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable, Iterable


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
