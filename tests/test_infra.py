"""Verification-infrastructure contracts: the oracle harness and session
profile helpers must fail loudly, not mask defects (round-2 advice items)."""

from __future__ import annotations

import os
import warnings

import duckdb
import pytest

from bee_proof_spark.queries import QuerySpec
from bee_proof_spark.session import build_session
from bee_proof_spark.testing import compare_to_oracle, duckdb_connect


def test_duckdb_connect_skips_absent_tables(tmp_path):
    """A partial fixture dir (edge-case tests write only documents.parquet)
    registers just the present tables, silently."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array([1], pa.int64())}),
                   str(tmp_path / "documents.parquet"))
    con = duckdb_connect(str(tmp_path))
    assert con.execute("SELECT count(*) FROM documents").fetchone()[0] == 1
    with pytest.raises(duckdb.CatalogException):
        con.execute("SELECT * FROM lineitem")


def test_duckdb_connect_raises_on_corrupt_fixture(tmp_path):
    """A parquet file that EXISTS but cannot be read must raise the real I/O
    error, not silently skip into a later 'table does not exist'."""
    (tmp_path / "documents.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(duckdb.Error):
        duckdb_connect(str(tmp_path))


def test_rows_only_specs_reject_complex_outputs(spark, sf_smoke):
    """The driver's row-hash cannot canonicalize array/map/struct cells, and
    rows-only (oracle=None) ids skip the oracle compare - so the complex-type
    gate must fire for them too, at pytest time, not first in the driver run."""
    from pyspark.sql import functions as F

    spec = QuerySpec(
        "rows_only_array_probe",
        lambda s, d: s.range(3).select(F.array("id").alias("a")),
        oracle=None,
    )
    ok, msg = compare_to_oracle(spark, spec, sf_smoke)
    assert not ok
    assert "complex-typed" in msg


def test_bench_queries_are_registered():
    """Every id bench.py times must exist in the registry — a rename that
    silently drops a query from the driver's per-round bench is a regression
    the JSON artifact would never surface."""
    import bench

    from bee_proof_spark.queries import load_all

    reg = load_all()
    missing = [q for q in bench.BENCH_QUERIES if q not in reg]
    assert not missing, f"bench queries not registered: {missing}"
    assert not set(bench.STABLE_QUERIES) & set(bench.TAIL_QUERIES)


def test_bench_calibration_workload_is_fixed(spark):
    """The calibration row is only a valid cross-round yardstick if the
    workload never changes: pin its exact shape (20M rows over 1000
    xxhash64-derived keys, every key present, counts summing to exactly
    20M) so an accidental edit shows up as a test failure, not as phantom
    'host drift'. Timing itself is NOT asserted - only the work."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 20_000_000, 1, 32)
        .withColumn("k", F.pmod(F.xxhash64("id"), F.lit(1000)))
        .withColumn("v", F.sin(F.col("id").cast("double")))
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    top = df.agg(
        F.count(F.lit(1)).alias("groups"), F.sum("n").alias("rows")
    ).collect()[0]
    assert (top["groups"], top["rows"]) == (1000, 20_000_000)
    # and bench.calibration_pass runs the same shape through the noop sink
    import inspect

    import bench

    src = inspect.getsource(bench.calibration_pass)
    for token in ("20_000_000", "xxhash64", "1000", "sin"):
        assert token in src, token


def test_sweep_aged_dirs_protections(tmp_path, monkeypatch):
    """pid_dir's reclamation rules: a dead pid's dir goes once it is over an
    hour old; a live pid's old dir, a fresh dead dir and the caller's own
    old dir stay."""
    import os
    import tempfile
    import time

    from bee_proof_spark.tmputil import pid_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    base = tmp_path / "bee-proof-tmp" / "sinks"
    old = time.time() - 7200  # 2h ago
    # a pid above pid_max (< 2^22) cannot exist, so it is dead
    dead_old, dead_fresh = base / "pid4194999", base / "pid4194998"
    alive_old, mine = base / f"pid{os.getppid()}", base / f"pid{os.getpid()}"
    for d in (dead_old, dead_fresh, alive_old, mine):
        d.mkdir(parents=True)
    for d in (dead_old, alive_old, mine):
        os.utime(d, (old, old))

    assert pid_dir("sinks") == str(mine)
    assert not dead_old.exists()
    assert dead_fresh.exists()
    assert alive_old.exists()
    assert mine.exists()


def test_family_cache_bounded(spark, sf_smoke):
    """The checkpoint cache must not pin unbounded block-manager memory:
    FIFO eviction caps it at _FAMILY_CACHE_MAX entries per process."""
    from bee_proof_spark.queries import extensions as ext

    for i in range(ext._FAMILY_CACHE_MAX + 3):
        ext._family_checkpoint(
            spark, sf_smoke, f"probe_{i}", lambda: spark.range(2)
        )
    assert len(ext._FAMILY_CACHE) <= ext._FAMILY_CACHE_MAX


def test_family_cache_materializes_once(spark, sf_smoke):
    """The near-dup family's shared intermediates (shingle postings, jaccard
    pairs) are checkpointed once per (app, corpus): repeat calls return the
    SAME checkpointed DataFrame, so ext_dedup_cluster's edge list reuses the
    pipeline instead of rebuilding it (r2 bench: 13.6 s -> ~3 s)."""
    from bee_proof_spark.queries.extensions import (
        jaccard_pairs,
        shared_shingle_postings,
    )

    p1 = shared_shingle_postings(spark, sf_smoke)
    p2 = shared_shingle_postings(spark, sf_smoke)
    assert p1 is p2
    j1 = jaccard_pairs(spark, sf_smoke)
    assert j1 is jaccard_pairs(spark, sf_smoke)
    # The checkpointed table is a materialized RDD scan, not a re-derivation
    # of the corpus parquet.
    assert "ExistingRDD" in j1._jdf.queryExecution().executedPlan().toString()


def test_build_session_warns_on_live_runtime_mutation(spark):
    """Reusing a live session while flipping its runtime conf must warn (the
    mutation is visible to every other caller of the shared session); keys
    the caller passed via extra_conf are applied silently."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with pytest.warns(UserWarning, match="autoBroadcastJoinThreshold"):
            build_session(profile="parity")  # flips broadcast/AQE pins
        with warnings.catch_warnings():
            warnings.simplefilter("error")  # no warning may escape
            build_session(
                profile="perf",
                extra_conf={
                    "spark.sql.autoBroadcastJoinThreshold": "10m",
                    "spark.sql.adaptive.skewJoin.enabled": "true",
                },
            )
    finally:
        build_session(
            profile="perf",
            extra_conf={"spark.sql.autoBroadcastJoinThreshold": before},
        )


def test_auto_shuffle_partitions_scales_with_corpus_bytes(tmp_path):
    """Corpus-sized shuffle parallelism: 32 floor for small/absent dirs,
    power-of-two growth at ~24 MB compressed input per partition, 1024 cap."""
    from bee_proof_spark.session import auto_shuffle_partitions

    assert auto_shuffle_partitions(None) == 32
    assert auto_shuffle_partitions(str(tmp_path / "missing")) == 32
    assert auto_shuffle_partitions(str(tmp_path)) == 32  # empty dir
    big = tmp_path / "t.parquet"
    big.write_bytes(b"\0" * (6 * 1024 * 1024))
    assert auto_shuffle_partitions(str(tmp_path)) == 32  # under the floor
    from bee_proof_spark.session import _partitions_for_bytes as pfb

    gib = 1024**3
    assert pfb(76 * 1024 * 1024) == 32  # the sf0.1 fixture's size class
    assert pfb(5 * gib) == 256  # the 1000x fixture's measured-best value
    assert pfb(10**15) == 1024  # capped
    for total in (0, gib, 37 * gib, 10**15):
        n = pfb(total)
        assert n & (n - 1) == 0 and 32 <= n <= 1024


def test_emb_lsh_planes_self_size(monkeypatch, tmp_path):
    """Hyperplane count self-sizes from the embeddings row count: the
    fixture-regime constant 8 wherever an oracle comparison runs
    (<= 4096 rows), ceil(log2(n/2)) above it (occupancy ~2 keeps candidate
    pairs linear in the corpus), capped at 24; a pinned count wins; an
    unknown row count raises instead of guessing small (a P=8 guess on a
    2M-vector corpus is a measured disk bomb - SCALE.md r6)."""
    import pytest as _pytest

    import bee_proof_spark.queries.extensions as X

    monkeypatch.setattr(X, "_EMB_LSH_PLANES_PIN", None)
    f = X._emb_lsh_planes_for
    assert [f(n) for n in (500, 2000, 4096)] == [8, 8, 8]
    assert f(2_000_000) == 20 and f(10**9) == 24  # adaptive, then capped
    ps = [f(n) for n in (4097, 10**4, 10**5, 10**6, 10**7)]
    assert ps == sorted(ps)  # monotone in corpus size
    with _pytest.raises(RuntimeError):
        f(None)
    # unreadable footers -> catalog rows None -> the raise above, never P=8
    from bee_proof_spark.queries import table_info

    bad = tmp_path / "embeddings.parquet"
    bad.write_bytes(b"not parquet")
    assert table_info(str(tmp_path), "embeddings").rows is None
    assert table_info(str(tmp_path), "missing").rows is None
    monkeypatch.setattr(X, "_EMB_LSH_PLANES_PIN", 20)
    assert f(None) == 20  # a pin needs no row count
    assert f(10**9) == 20


def test_family_disk_staging_matches_memory_path(spark, sf_smoke):
    """Above the corpus-size cutover the family stages go to parquet under
    the tmp tree instead of the block manager; the output must be identical
    row-for-row (this is what makes the 1000x floors comparable evidence)."""
    from bee_proof_spark.queries import extensions as ext

    def run():
        return sorted(
            map(tuple, ext.ext_dedup_ngram_jaccard(spark, sf_smoke).collect())
        )

    ext._FAMILY_CACHE.clear()
    mem = run()
    old = ext._DISK_STAGE_DOC_BYTES
    ext._DISK_STAGE_DOC_BYTES = 0  # force every stage onto the disk path
    try:
        ext._FAMILY_CACHE.clear()
        disk = run()
        # the read-back plan really is a parquet scan of the staged stage
        df = ext.shared_capped_postings(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "familystage" in plan
    finally:
        ext._DISK_STAGE_DOC_BYTES = old
        ext._FAMILY_CACHE.clear()
    assert mem == disk


def test_dynamic_conf_reads_env_at_call_time(monkeypatch):
    """Shuffle sizing and driver memory resolve when a session is REQUESTED,
    not at module import (review-caught r6: an env var set after import was
    ignored, so a 1000x corpus ran at the unset-env default of 32
    partitions)."""
    from bee_proof_spark.session import _dynamic_conf

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "123")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = _dynamic_conf()
    assert conf["spark.sql.shuffle.partitions"] == "123"
    assert conf["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE")
    assert _dynamic_conf()["spark.sql.shuffle.partitions"] != "123"


def test_fixture_quantity_is_integral():
    """tpch_q17's 0.2*avg(l_quantity) cutoff and tpch_q18's HAVING
    sum(l_quantity) > 150 are engine-order-independent ONLY because
    l_quantity is integral (integer-valued doubles sum exactly in IEEE at
    any reduction order, so Spark's partial merges and DuckDB's sequential
    fold produce the bit-identical threshold). Pin that fixture property
    across every generated scale so a regenerated fixture with fractional
    quantities can't silently reintroduce a last-ulp boundary flip."""
    import glob
    import os

    from tests.conftest import SF_ORACLE

    dirs = sorted(glob.glob("/root/testdata/sf*")) or [SF_ORACLE]
    checked = 0
    for d in dirs:
        p = os.path.join(d, "lineitem.parquet")
        if not os.path.exists(p):
            continue
        con = duckdb.connect()
        frac, mx = con.execute(
            f"SELECT count(*) FILTER (l_quantity <> floor(l_quantity)),"
            f" max(l_quantity) FROM read_parquet('{p}')"
        ).fetchone()
        con.close()
        assert frac == 0, f"{p}: {frac} non-integral l_quantity rows"
        assert mx <= 2**26, f"{p}: l_quantity {mx} too large for exact sums"
        checked += 1
    assert checked, "no lineitem fixture found to check"


def test_spread_scan_gates_on_layout(spark, tmp_path):
    """spread_scan rebalances ONLY when the parquet layout cannot feed the
    session's cores (single/few row groups); a properly chunked table must
    pass through with no added exchange - the gate reads the data layout,
    not the platform, so warehouse-scale tables are a plan no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import spread_scan, table_info

    cores = spark.sparkContext.defaultParallelism
    rows = pa.table({"id": list(range(200)), "v": [float(i) for i in range(200)]})
    one = tmp_path / "one"
    many = tmp_path / "many"
    one.mkdir()
    many.mkdir()
    pq.write_table(rows, one / "narrow.parquet")  # 1 row group
    pq.write_table(rows, many / "narrow.parquet", row_group_size=5)  # 40 groups

    assert table_info(str(one), "narrow").row_groups() == 1
    assert table_info(str(many), "narrow").row_groups() >= max(cores // 2, 2)

    spread = spread_scan(spark, str(one), "narrow", "id")
    plain = spread_scan(spark, str(many), "narrow", "id")
    # unsplittable layout: rebalanced across the cores
    assert spread.rdd.getNumPartitions() == cores
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution().toString() or (
        "hashpartitioning" in spread._jdf.queryExecution().toString()
    )
    # chunked layout: identical plan to a bare read (no Exchange)
    assert "Exchange" not in plain._jdf.queryExecution().executedPlan().toString()
    # both read the same rows
    assert spread.count() == plain.count() == 200


def _count_footer_opens(monkeypatch) -> list[str]:
    """Patch pyarrow's ParquetFile to record the path of every footer opened."""
    import pyarrow.parquet as pq

    opened: list[str] = []
    real = pq.ParquetFile

    class CountingParquetFile(real):
        def __init__(self, p, *a, **kw):
            opened.append(str(p))
            super().__init__(p, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", CountingParquetFile)
    return opened


def test_scan_splits_early_exit_bounds_footer_reads(tmp_path, monkeypatch):
    """row_groups(stop_at=k) must stop opening parquet footers the moment
    the running count reaches k (r14 verdict item 2: at 100 TB the gate's
    O(files) metadata pass was pure driver waste - it only needs a
    threshold boolean), and the cached partial count must (a) serve later
    gate calls without re-reading and (b) upgrade to the full count when a
    caller asks for the exact total."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import bee_proof_spark.queries as Q

    table_dir = tmp_path / "wide.parquet"
    table_dir.mkdir()
    rows = pa.table({"id": list(range(10))})
    for i in range(20):  # 20 files x 1 row group each
        pq.write_table(rows, table_dir / f"part-{i:05d}.parquet")

    opened = _count_footer_opens(monkeypatch)
    Q._CATALOG.pop(str(table_dir), None)

    got = Q.table_info(str(tmp_path), "wide").row_groups(stop_at=4)
    assert got is not None and 4 <= got < 20  # lower bound, not the total
    assert len(opened) == 4  # exactly stop_at footers opened

    # cached lower bound serves an equal-or-smaller gate with ZERO reads
    opened.clear()
    assert Q.table_info(str(tmp_path), "wide").row_groups(stop_at=4) >= 4
    assert Q.table_info(str(tmp_path), "wide").row_groups(stop_at=2) >= 2
    assert opened == []

    # a caller needing the exact total upgrades the cache in place
    assert Q.table_info(str(tmp_path), "wide").row_groups() == 20
    opened.clear()
    assert Q.table_info(str(tmp_path), "wide").row_groups() == 20  # now fully cached
    assert Q.table_info(str(tmp_path), "wide").row_groups(stop_at=100) == 20
    assert opened == []


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    number of Spark jobs the group started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_tbl_of_every_table_starts_no_job(spark, sf_smoke):
    """The catalog keeps each table's inferred schema: a second tbl() of
    every fixture table starts no Spark job and returns the first schema."""
    from bee_proof_spark.queries import TABLES, tbl

    first = {n: tbl(spark, sf_smoke, n).schema for n in TABLES}
    second, jobs = _jobs_in_group(
        spark, "catalog-second-read", lambda: {n: tbl(spark, sf_smoke, n).schema for n in TABLES}
    )
    assert jobs == 0
    assert second == first


def test_catalog_sees_an_equal_size_rewrite(spark, tmp_path):
    """A table file rewritten at the same byte size gets a new entry through
    its new mtime_ns, so tbl() returns the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import table_info, tbl

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"aa": [1, 2, 3]}), path)
    st = os.stat(path)
    assert tbl(spark, str(tmp_path), "t").columns == ["aa"]
    pq.write_table(pa.table({"bb": [1, 2, 3]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.path.getsize(path) == st.st_size
    assert table_info(str(tmp_path), "t").key == (st.st_mtime_ns + 10**9, st.st_size)
    assert tbl(spark, str(tmp_path), "t").columns == ["bb"]


def test_catalog_schema_follows_the_inference_confs(spark, tmp_path):
    """The kept schema is per tuple of parquet inference confs: flipping
    spark.sql.parquet.binaryAsString gives the other column type."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import BinaryType, StringType

    from bee_proof_spark.queries import tbl

    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), tmp_path / "t.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert tbl(spark, str(tmp_path), "t").schema["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        df = tbl(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType == StringType()
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.set(key, before)


def test_events_nanos_read_through_the_kept_schema(spark, tmp_path):
    """An events table with TIMESTAMP(NANOS) ts still reads as a
    TimestampType ts, truncated to micros, equal to a bare read plus the
    ns -> us conversion."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampType

    from bee_proof_spark.queries import tbl

    ns = [1_704_067_200_123_456_789, 1_704_070_800_987_654_321]
    pq.write_table(
        pa.table({"event_id": [0, 1], "ts": pa.array(ns, pa.timestamp("ns", tz="UTC"))}),
        tmp_path / "events.parquet",
    )
    got = tbl(spark, str(tmp_path), "events")
    got = tbl(spark, str(tmp_path), "events")  # the second read uses the kept schema
    bare = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert isinstance(bare.schema["ts"].dataType, LongType)
    bare = bare.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert got.schema["ts"].dataType == TimestampType()
    assert got.schema == bare.schema
    assert sorted(got.collect()) == sorted(bare.collect())


def test_catalog_is_shared_by_threads(spark, tmp_path, monkeypatch):
    """Eight threads reading one fresh table through tbl() and the catalog
    get equal results, from one schema inference and one open of each
    footer."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import table_info, tbl

    table_dir = tmp_path / "t.parquet"
    table_dir.mkdir()
    for i in range(3):
        pq.write_table(pa.table({"id": list(range(10))}), table_dir / f"part-{i:05d}.parquet")
    opened = _count_footer_opens(monkeypatch)
    barrier = threading.Barrier(8)
    results: dict[int, tuple] = {}

    def read(i: int) -> None:
        def facts():
            barrier.wait()
            info = table_info(str(tmp_path), "t")
            schema = tbl(spark, str(tmp_path), "t").schema
            return schema, info.rows, info.row_groups(), info.bytes

        results[i] = _jobs_in_group(spark, f"catalog-thread-{i}", facts)

    threads = [threading.Thread(target=read, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 8
    facts = [r[0] for r in results.values()]
    assert all(f == facts[0] for f in facts)
    schema, rows, groups, size = facts[0]
    assert schema.names == ["id"] and (rows, groups) == (30, 3) and size > 0
    assert sum(r[1] for r in results.values()) == 1  # one inference job
    assert sorted(opened) == sorted(str(p) for p in table_dir.iterdir())


_CPUS_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from bee_proof_spark.session import build_session
s = build_session(warehouse_dir=sys.argv[2])
print(s.sparkContext.defaultParallelism)
s.stop()
"""


def test_build_session_honors_spark_graft_cpus(tmp_path):
    """With no ``master``, build_session() runs local[$SPARK_GRAFT_CPUS]: the
    session's defaultParallelism (what bench.py emits as ``cpus_effective``)
    equals the env value. A fresh process, because the shared test session
    pins its own master."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CPUS_PROBE, repo, str(tmp_path / "wh")],
        capture_output=True, text=True, env=env, timeout=300, check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "2"


def test_reset_tmp_tree_keeps_other_processes_dirs(tmp_path):
    """Resetting the run's tree empties the warehouse but leaves what other
    processes own under the tmp root: their pid dirs."""
    import os

    from bee_proof_spark.session import reset_tmp_tree

    base = tmp_path / "bee-proof-tmp"
    sink = base / "sinks" / f"pid{os.getpid()}" / "q"
    snapshot = base / "stream-src" / f"pid{os.getppid()}" / "fixture-snap"
    for d in (sink, snapshot, base / "warehouse" / "t"):
        d.mkdir(parents=True)
    (snapshot / "_SUCCESS").touch()
    assert reset_tmp_tree(str(base)) == str(base)
    assert sink.is_dir()
    assert (snapshot / "_SUCCESS").exists()
    assert os.listdir(base / "warehouse") == []
    assert (base / "scratch").is_dir() and (base / "logs").is_dir()


def test_sink_scratch_of_same_named_fixture_dirs_is_not_shared(spark, tmp_path):
    """Two fixture dirs with one basename get separate sink scratch dirs:
    building roundtrip_csv on the second must not rewrite the files the
    first one's lazy read still lists."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries.scans import roundtrip_csv

    dirs = []
    for sub, keys in (("a", [1, 2, 3]), ("b", [10, 20])):
        d = tmp_path / sub / "sfx"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table({
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_orderstatus": ["O"] * len(keys),
                "o_totalprice": [1.0] * len(keys),
                "o_orderdate": pa.array([0] * len(keys), pa.timestamp("us")),
            }),
            d / "orders.parquet",
        )
        dirs.append(str(d))
    first = roundtrip_csv(spark, dirs[0])
    second = roundtrip_csv(spark, dirs[1])
    assert sorted(r.o_orderkey for r in first.collect()) == [1, 2, 3]
    assert sorted(r.o_orderkey for r in second.collect()) == [10, 20]


def test_sink_scratch_is_new_per_call(spark, sf_smoke):
    """Building a sink query twice on one fixture must not rewrite the
    files the first build's lazy read still lists."""
    from bee_proof_spark.queries.scans import roundtrip_csv

    first = roundtrip_csv(spark, sf_smoke)
    second = roundtrip_csv(spark, sf_smoke)
    assert sorted(first.collect()) == sorted(second.collect())


def test_stream_snapshot_is_built_safely_by_threads(spark, sf_smoke, tmp_path):
    """Four threads replaying a fixture with no snapshot yet all succeed
    and get one serial run's rows."""
    import shutil
    import threading

    from bee_proof_spark.queries import load_all

    sf_dir = str(tmp_path / "sf")
    shutil.copytree(sf_smoke, sf_dir)  # a new corpus tag: no snapshot yet
    build = load_all()["stream_dedup_state"].builder
    barrier = threading.Barrier(4)
    rows: dict[int, list] = {}
    errors: list[Exception] = []

    def run(i: int) -> None:
        barrier.wait()
        try:
            rows[i] = sorted(build(spark, sf_dir).collect())
        except Exception as e:  # reported below
            errors.append(e)

    # Streams set these on their own session only: the shared one keeps its own.
    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.checkpointFileManagerClass")
    conf = {k: spark.conf.get(k, None) for k in keys}
    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert {k: spark.conf.get(k, None) for k in keys} == conf
    serial = sorted(build(spark, sf_dir).collect())
    assert serial and all(rows[i] == serial for i in range(4))


def test_family_checkpoint_builds_once_across_threads(spark, sf_smoke):
    """Eight threads asking for one new family stage at once run its build
    once and all get the same DataFrame."""
    import threading
    import time
    import uuid

    from bee_proof_spark.queries import extensions as ext

    stage = f"thread_probe_{uuid.uuid4().hex[:8]}"
    calls = []
    barrier = threading.Barrier(8)
    results: dict[int, object] = {}

    def build():
        calls.append(1)
        time.sleep(0.2)
        return spark.range(2)

    def get(i: int) -> None:
        barrier.wait()
        results[i] = ext._family_checkpoint(spark, sf_smoke, stage, build)

    threads = [threading.Thread(target=get, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1
    assert len(results) == 8
    assert all(df is results[0] for df in results.values())


def test_tmp_tree_has_one_owner():
    """Only tmputil names the engine's tmp root or judges pid-dir liveness;
    every other module places its files through tmputil.pid_dir."""
    import pathlib

    import bee_proof_spark

    pkg = pathlib.Path(bee_proof_spark.__file__).parent
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        src = p.read_text()
        if p != pkg / "tmputil.py" and ("bee-proof-tmp" in src or "pid_dir_alive" in src):
            offenders.append(str(p.relative_to(pkg)))
    assert offenders == []
