"""SparkSession profiles for the bee-proof-spark engine.

Mirrors the reference harness's pinned execution profile (ManifestRunner.java:169-229,
see SURVEY.md section 4.1): ephemeral local warehouse under the engine tmp tree,
in-memory catalog (the Derby-in-memory metastore equivalent), fail-fast semantics,
and deterministic conf. Two profiles:

- ``parity``: disables adaptive join rewrites the reference disables
  (HIVECONVERTJOIN=false -> autoBroadcastJoinThreshold=-1,
  HIVESKEWJOIN=false -> adaptive.skewJoin off) for plan determinism.
- ``perf`` (default): lets Catalyst/AQE do its job - broadcast joins, skew
  handling, partition coalescing. This is the 100 TB posture.

Hive-compat semantics on either profile: ANSI off (Hive-style int division,
silent-null casts - Spark 4 defaults ANSI on), session timezone UTC.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import time
import warnings

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from bee_proof_spark.tmputil import TMP_ROOT, tree_bytes


def auto_shuffle_partitions(data_dir: str | None = None) -> int:
    """Shuffle-partition count sized to the input corpus, not a constant.

    A fixed count is wrong at both ends: 32 partitions over a 600M-row
    fixture spill (measured: ext_text_tfidf 107.8 s at 1000x with 32 vs
    71.0 s with 256, SCALE.md), while 256 over sf0.1 pays per-task overhead
    for nothing. Target ~24 MB of compressed parquet input per partition -
    parquet expands ~4-8x decoded, so this lands near the ~128 MB-per-task
    post-AQE sizing a cluster deployment would use - clamped to [32, 1024]
    and rounded to the nearest power of two for run-to-run stability (the
    probe fixtures land on exactly the measured-best 256 at 1000x, and on
    the long-standing 32 at sf0.1/100x). Returns 32 when the directory is
    unset/missing so sessions without a corpus keep the historical default.
    """
    if not data_dir or not os.path.isdir(data_dir):
        return 32
    return _partitions_for_bytes(tree_bytes(data_dir))


def _partitions_for_bytes(total: int) -> int:
    # batch-only curve; stateful streaming sizes by ROW count instead
    # (replay._streaming_partitions_for_rows - replica fixtures compress
    # ~100x, so bytes under-count the state there)
    import math

    raw = max(32, min(1024, total // (24 * 1024 * 1024) or 1))
    return 2 ** round(math.log2(raw))

#: Conf shared by both profiles. Values are strings per SparkConf convention.
#: Static entries only - the env-derived entries (shuffle sizing, driver
#: memory) are resolved inside build_session() at CALL time: freezing them
#: at import meant a caller setting SPARK_GRAFT_SF_DIR after import ran a
#: 1000x corpus at the unset-env default of 32 partitions (the measured
#: 107.8-vs-71.0 s tfidf spill the auto-sizing exists to prevent), and
#: every import paid an O(corpus) directory walk even when no session was
#: ever built.
_COMMON_CONF: dict[str, str] = {
    # Hive-compat semantics (SURVEY.md section 4.2 "semantic gaps" row).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # In-memory catalog = the reference's throwaway Derby metastore
    # (ManifestRunner.java:195).
    "spark.sql.catalogImplementation": "in-memory",
    # Every fixture here stores events.ts as microsecond, not-UTC-adjusted
    # parquet, which Spark 4.1 infers as TimestampNTZType: this conf does
    # not touch it. It serves nanos-written tables only (such as the one
    # test_events_nanos_read_through_the_kept_schema writes), which Spark
    # rejects by default: read as long, queries.tbl converts ns -> us.
    # Pinned at session build so that handling is uniform from the first
    # query; tbl() still sets it for foreign sessions (the driver builds
    # its own).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas interchange (UDF paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep the UI off in tests/bench.
    "spark.ui.enabled": "false",
}


def _dynamic_conf() -> dict[str, str]:
    """Env-derived conf, resolved when a session is requested."""
    return {
        # Local-mode shuffle sizing: explicit SPARK_GRAFT_SHUFFLE wins; else
        # sized to the corpus named by SPARK_GRAFT_SF_DIR
        # (auto_shuffle_partitions - 32 at sf0.1, 256 at the 1000x fixture);
        # else the historical 32.
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE")
        or str(auto_shuffle_partitions(os.environ.get("SPARK_GRAFT_SF_DIR"))),
        # Local mode runs all 32 executor threads inside ONE driver JVM whose
        # default heap is 1g - far below what 32-way shuffles need (measured:
        # window aggs over a 6M-row fixture OOM at 1g, breeze at 8g). Only
        # read at JVM launch, so it applies to sessions this process creates;
        # a live session keeps its own (static-conf warn path).
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }

_PERF_CONF: dict[str, str] = {
    # AQE: runtime coalescing, skew-join splitting, dynamic join selection.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}

_PARITY_CONF: dict[str, str] = {
    # HIVECONVERTJOIN=false (ManifestRunner.java:205) - no auto broadcast.
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # HIVESKEWJOIN=false (ManifestRunner.java:206).
    "spark.sql.adaptive.skewJoin.enabled": "false",
    # HIVEMETADATAONLYQUERIES=false (ManifestRunner.java:203).
    "spark.sql.optimizer.metadataOnly": "false",
}


def build_session(
    app_name: str = "bee-proof-spark",
    master: str | None = None,
    profile: str = "perf",
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine profile applied.

    ``profile`` is ``"perf"`` (default, AQE on) or ``"parity"``
    (reference-determinism pins, SURVEY.md section 4.1).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if warehouse_dir is None:
        warehouse_dir = os.path.join(tempfile.gettempdir(), TMP_ROOT, "warehouse")

    conf = dict(_COMMON_CONF)
    conf.update(_dynamic_conf())
    conf.update(_PERF_CONF if profile == "perf" else _PARITY_CONF)
    conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)

    active = SparkSession.getActiveSession()
    if active is not None:
        # getOrCreate() on a live session silently ignores every requested
        # conf (profile switches would be no-ops). Apply the runtime-settable
        # ones explicitly; warn when a static conf (warehouse, catalog) can't
        # be changed and differs from what was asked for, and ALSO warn when
        # a runtime conf is being flipped on a session this call did not
        # create (e.g. a profile='parity' call silently disabling AQE/
        # broadcast for an unrelated caller sharing the session). Keys the
        # caller explicitly passed via extra_conf are applied without the
        # mutation warning - the caller asked for exactly those.
        explicit = set(extra_conf or ())
        mutated: list[str] = []
        for k, v in conf.items():
            try:
                current = active.conf.get(k)
            except Exception:
                current = None
            try:
                active.conf.set(k, v)
                if current is not None and current != v and k not in explicit:
                    mutated.append(f"{k}: {current!r} -> {v!r}")
            except Exception:
                # Spark surfaces path-valued static confs as file: URIs;
                # normalize so an equal path never false-positives the warn.
                # current=None means the live session doesn't expose the key
                # at all (e.g. launch-only confs like driver memory) - that
                # is "unverifiable", not a mismatch; warning on it would fire
                # on every call even when the JVM actually matches.
                norm = lambda s: s.removeprefix("file:") if isinstance(s, str) else s  # noqa: E731
                if current is not None and norm(current) != norm(v):
                    warnings.warn(
                        f"build_session: static conf {k}={current!r} on the "
                        f"live session differs from requested {v!r}; "
                        "stop the session to apply it",
                        stacklevel=2,
                    )
        if mutated:
            warnings.warn(
                "build_session: reusing the live SparkSession and changing "
                "its runtime conf (shared by every other caller of this "
                f"session): {'; '.join(mutated)}",
                stacklevel=2,
            )
        return active

    def builder(launch_conf: dict[str, str]) -> SparkSession.Builder:
        b = SparkSession.builder.appName(app_name).master(master)
        for k, v in launch_conf.items():
            b = b.config(k, v)
        return b

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder(conf).getOrCreate()
    return _launch_with_class_archive(builder, conf)


#: Launch-only JVM options the class-data archive flags are merged into.
#: Spark puts them before ``spark.driver.extraJavaOptions`` on the driver's
#: command line, so a caller's extraJavaOptions from any source (extra_conf,
#: ``--conf`` in PYSPARK_SUBMIT_ARGS) keep working beside the archive flags.
_JAVA_OPTS_KEY = "spark.driver.defaultJavaOptions"

#: How long interpreter exit waits for the JVM to write its archive (measured:
#: about 13 s). The wait is needed: a JVM left to dump after this process
#: exits is one a caller may SIGKILL mid-write.
_DUMP_TIMEOUT_S = 60

#: Age past which a file in the archive dir is a killed run's leftover: a
#: temp dump or crash log to prune, or a dump lock to take over.
_LEFTOVER_AGE_S = 3600


def _class_archive_path(spark_home: str, driver_memory: str) -> str | None:
    """Where the archive for this launch lives, or None if it cannot.

    A per-user cache dir, not the tmp root: reset_tmp_tree() and a per-run
    TMPDIR would discard the archive before any later launch could map it.
    The dir also holds the empty conf dir the launch puts on the classpath.
    """
    cache = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(cache):
        cache = os.path.join(os.path.expanduser("~"), ".cache")
    cds = os.path.join(cache, "bee-proof-spark", "cds")
    # the JVM splits options on whitespace, expands % in ErrorFile and
    # reads ':' in SharedArchiveFile as a second archive
    if not re.fullmatch(r"[\w./+-]+", cds):
        return None
    try:
        os.makedirs(os.path.join(cds, "conf"), exist_ok=True)
        key = _class_archive_key(spark_home, driver_memory)
    except OSError:
        return None
    return os.path.join(cds, f"spark-{key}.jsa") if os.access(cds, os.W_OK) else None


def _class_archive_key(spark_home: str, driver_memory: str) -> str:
    """Fingerprint of what a dynamic archive is valid for: the JDK build,
    Spark's jars, and compressed oops (heap under 32 GB).

    The caller's java options stay out of it: a per-run -Djava.io.tmpdir
    would give every run its own archive, dumped and never reused.
    """
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    libjvm = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so"))
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_memory.strip().lower())
    small_heap = bool(m) and int(m[1]) << {"k": 10, "m": 20, "g": 30, "t": 40}[m[2] or "m"] < 32 << 30
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it)
    parts = [java, libjvm.st_size, libjvm.st_mtime_ns, small_heap, jars]
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def _plain_launch_reason(spark_home: str) -> str | None:
    """Why the driver's classpath cannot be pinned to the archive's, if so.

    The JVM maps an archive only under the classpath it was dumped with, and
    refuses to dump with a non-empty directory on it, so the launch swaps the
    conf dir for an empty one. That is sound only while Spark would read
    nothing from the real one (``*.template`` files are never read) and no
    other directory joins the classpath.
    """
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        if os.environ.get(var):
            return f"{var} is set"
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        used = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        return None
    return f"{conf_dir} holds {used[0]}" if used else None


def _launch_with_class_archive(builder, conf: dict[str, str]) -> SparkSession:
    """Launch the driver JVM from a dynamic class-data-sharing archive.

    With an archive for the current key the JVM maps Spark's parsed classes
    from it instead of reading ~11k classes from jars (JEP 350). Without one
    it dumps one at exit, published only if the JVM exits cleanly: a
    truncated archive crashes the next JVM instead of being ignored.
    """
    spark_home = _find_spark_home()
    reason = _plain_launch_reason(spark_home)
    if reason is not None:
        warnings.warn(
            f"build_session: starting the JVM without a class-data archive because {reason}",
            stacklevel=3,
        )
        return builder(conf).getOrCreate()
    archive = _class_archive_path(spark_home, conf["spark.driver.memory"])
    if archive is None:
        return builder(conf).getOrCreate()
    cds = os.path.dirname(archive)
    dump = None
    if os.path.exists(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    elif _take_dump_lock(f"{archive}.lock"):
        dump = f"{archive}.{os.getpid()}-{time.monotonic_ns()}.tmp"
        flag = f"-XX:ArchiveClassesAtExit={dump}"
    else:
        # another process is dumping this key's archive; a second dump
        # would only be thrown away
        return builder(conf).getOrCreate()
    # The cds selectors keep the dump's warnings off the JVM's stdout (the
    # runner's output protocol, bench.py's result line); a JVM that crashes
    # on a damaged archive writes its error log to the cache, not the cwd.
    opts = f"{flag} -Xlog:cds=off -Xlog:cds+dynamic=off -XX:ErrorFile={cds}/hs_err_pid%p.log"
    launch_conf = dict(conf)
    launch_conf[_JAVA_OPTS_KEY] = " ".join(filter(None, (conf.get(_JAVA_OPTS_KEY), opts)))
    caller_conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cds, "conf")
    spark = None
    try:
        spark = builder(launch_conf).getOrCreate()
    except PySparkRuntimeError as ex:
        if ex.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
    finally:
        if caller_conf_dir is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = caller_conf_dir
        if dump is not None and spark is None:
            _remove(f"{archive}.lock")
    if spark is None:
        _remove(dump or archive)
        warnings.warn(
            f"build_session: the JVM did not start with {flag}; removed the "
            "archive, starting without a class-data archive",
            stacklevel=3,
        )
        return builder(conf).getOrCreate()
    if dump is not None:
        atexit.register(_publish_class_archive, SparkContext._gateway.proc, dump, archive)
    return spark


def _take_dump_lock(lock: str) -> bool:
    """Claim the one dump of an archive key, by creating ``lock``.

    A lock younger than ``_LEFTOVER_AGE_S`` belongs to a process that is
    dumping now: False. An older one is a killed run's leftover and is taken
    over (two processes taking over at once may both dump; publishing keeps
    the first archive and discards the other).
    """
    for _ in range(2):
        try:
            os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            return True
        except FileExistsError:
            try:
                if time.time() - os.stat(lock).st_mtime < _LEFTOVER_AGE_S:
                    return False
                os.unlink(lock)
            except FileNotFoundError:
                pass
        except OSError:
            return False
    return False


def _remove(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


def _publish_class_archive(proc, dump: str, archive: str) -> None:
    """At interpreter exit: end the JVM, let it write its archive, and
    publish the archive only if the JVM exited 0, with a rename that never
    replaces another process's archive. The dump lock goes either way."""
    proc.stdin.close()  # the gateway exits on EOF
    try:
        code = proc.wait(timeout=_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    try:
        if code == 0:
            os.link(dump, archive)
            _prune_class_archives(os.path.dirname(archive), archive)
    except OSError:
        pass  # no dump written, or another process published first
    finally:
        _remove(dump)
        _remove(f"{archive}.lock")


def _prune_class_archives(cds: str, keep: str) -> None:
    """Remove archives of other keys, and temp dumps and crash logs older
    than an hour (leftovers of killed runs)."""
    now = time.time()
    with os.scandir(cds) as it:
        for e in it:
            if e.is_file() and e.path != keep and (
                    e.name.endswith(".jsa") or e.stat().st_mtime < now - _LEFTOVER_AGE_S):
                os.unlink(e.path)


def reset_tmp_tree(base_dir: str | None = None) -> str:
    """Empty and recreate the run's warehouse, scratch and logs dirs.

    Mirrors the per-run directory reset at ManifestRunner.java:172-175.
    The rest of the tmp root is left alone: it holds only per-process
    ``tmputil.pid_dir`` dirs (sinks, stream-sink, stream-src, familystage,
    bucketed), other live processes' among them, which ``pid_dir``'s own
    age and liveness sweep reclaims. No dir there is shared between
    processes.
    """
    base = base_dir or os.path.join(tempfile.gettempdir(), TMP_ROOT)
    for sub in ("warehouse", "scratch", "logs"):
        path = os.path.join(base, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
    return base
