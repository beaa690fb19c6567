"""The engine's tmp tree and the file-tree helpers behind it.

Everything the engine writes lives under one root,
``<tempdir>/<TMP_ROOT>``: the per-run tree ManifestRunner.java:172-175
builds and resets. Two kinds of entry live there:

- per-run dirs (``warehouse``, ``scratch``, ``logs``) that
  ``session.reset_tmp_tree`` empties;
- per-process dirs, ``<kind>/pid<N>`` from :func:`pid_dir` (sink scratch,
  parquet stream sinks, stream replay snapshots, family stages, bucketed
  tables).

No dir is shared between processes: a process writes only under its own
pid dirs, and reads nothing another process wrote there. The one rule that
crosses processes is reclamation, encoded once in :func:`pid_dir`: a dead
process's dir goes once it is an hour old, a live process's dir never does.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
import uuid

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

    Sweeps ``kind`` first (best-effort; an OS error never fails the caller):
    a DEAD process's dir is reclaimed once it ages past an hour (crashed or
    exited runs never clean up after themselves). A live pid's dir never
    is, whatever its age: its lazily-read DataFrames may still reference
    files there.
    """
    base = os.path.join(tempfile.gettempdir(), TMP_ROOT, kind)
    mine = os.path.join(base, f"pid{os.getpid()}")
    try:
        entries = os.listdir(base)
    except OSError:
        entries = []
    now = time.time()
    for name in entries:
        p = os.path.join(base, name)
        try:
            aged = now - os.stat(p).st_mtime > 3600
        except OSError:
            continue
        if aged and p != mine and not pid_dir_alive(p):
            shutil.rmtree(p, ignore_errors=True)
    return mine


def fresh_dir(kind: str, name: str = "") -> str:
    """A new path ``<name>-<uuid>`` (or ``<uuid>``) in this process's ``kind``
    dir, not created: one call's output, which no later call rewrites."""
    leaf = uuid.uuid4().hex[:12]
    return os.path.join(pid_dir(kind), f"{name}-{leaf}" if name else leaf)


def corpus_tag(sf_dir: str) -> str:
    """``<basename>-<md5(abspath)[:8]>``: names a fixture dir's derived files.
    The basename keeps paths readable; the abspath hash keeps same-named
    fixture dirs (``a/sf0.1``, ``b/sf0.1``) from sharing them."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"{os.path.basename(sf_dir.rstrip('/')) or 'fixture'}-{tag}"
