"""Query registry: the delegated HiveQL surface (SURVEY.md section 2-B/2-C) as
Spark-first DataFrame builders, each paired with a DuckDB oracle.

Every capability row in SURVEY.md section 2 declares a query id. A registered
``QuerySpec`` provides:

- ``builder(spark, sf_dir) -> DataFrame``  - idiomatic PySpark implementation
- ``oracle``                               - equivalent DuckDB SQL (None => rows-only check)

Determinism discipline (FIXTURES.md "Timezone / hashing"):

- Session timezone UTC; computed timestamps are cast to STRING in outputs.
- Double aggregates go through exact scaled-integer sums (see
  :func:`_exact_sum`) then cast back to double, so distributed
  (order-varying) summation cannot drift from the sequential oracle, whose
  rendering stays ``cast(sum(cast(x as decimal(25,6))) as double)`` - the
  same exact number computed the slow way.
- Transcendental results are rounded to 4dp on both sides.
- Collected lists are sorted; every computed column is aliased identically
  on both sides.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from bee_proof_spark.tmputil import tree_bytes

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class QuerySpec:
    id: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(qid: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``qid``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if qid in REGISTRY:
            raise ValueError(f"duplicate query id: {qid}")
        REGISTRY[qid] = QuerySpec(qid, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


#: Parquet confs that change the schema Spark infers from the same footers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


class TableInfo:
    """Catalog facts about one fixture table - the statistics a warehouse
    metastore serves without a scan or a job: on-disk size, footer row and
    row-group counts, and the Spark-inferred schema. Each fact is computed
    on first use and kept, behind the entry's lock.

    ``key`` is the table path's ``(st_mtime_ns, st_size)``;
    :func:`table_info` replaces the entry when it changes. A directory's
    mtime moves when a commit renames files in or out of it, but a file
    rewritten in place INSIDE a directory table is not seen: fixture tables
    are immutable per process (TESTDATA.md), the contract the family cache
    relies on too.

    ``rows`` and ``row_groups`` read footers only, each data file's at most
    once, and are ``None`` when any footer they reach is unreadable (or the
    table has no data file) - never a partial count. Sizing decisions that
    key off them must not guess small (a too-small guess is how a
    selectivity knob reverts to its fixture default on a 100 TB corpus);
    callers take the safe branch on unknown instead.
    """

    def __init__(self, path: str, key: tuple[int, int] | None):
        self.path = path
        self.key = key
        self._lock = threading.Lock()
        self._bytes: int | None = None
        self._files: list[str] | None = None
        self._footers: dict[str, tuple[int, int] | None] = {}
        self._schemas: dict[tuple, StructType] = {}

    @property
    def bytes(self) -> int:
        """Compressed size: every file under the path, ``.crc`` and
        ``_SUCCESS`` included - the table size plan-time gates (pre-
        aggregation, memory-vs-disk staging cutovers) compare against."""
        with self._lock:
            if self._bytes is None:
                self._bytes = tree_bytes(self.path)
            return self._bytes

    @property
    def rows(self) -> int | None:
        """Row count summed over every data file's footer."""
        return self._footer_sum(0)

    def row_groups(self, stop_at: int | None = None) -> int | None:
        """Parquet row groups across the data files: the hard ceiling on
        scan-stage parallelism (a row group is parquet's smallest
        independently readable unit, so no Spark split setting raises scan
        parallelism past it).

        ``stop_at`` bounds the footer pass for a gate that only needs to
        know whether the count clears a threshold: counting stops once it
        reaches ``stop_at`` and returns that lower bound, so a 100 TB table
        (~1e5 files) pays no O(files) footer pass for a boolean. A later
        call with a larger ``stop_at``, or none, opens only the footers not
        read yet."""
        return self._footer_sum(1, stop_at)

    def _footer_sum(self, field: int, stop_at: int | None = None) -> int | None:
        import pyarrow.parquet as pq

        n = None
        with self._lock:
            if self._files is None:
                self._files = [self.path] if os.path.isfile(self.path) else [
                    os.path.join(root, f)
                    for root, _, files in os.walk(self.path)
                    for f in files
                    if f.endswith(".parquet") or f.startswith("part-")
                ]
            for p in self._files:
                if p not in self._footers:
                    try:
                        md = pq.ParquetFile(p).metadata
                        self._footers[p] = (md.num_rows, md.num_row_groups)
                    except Exception:
                        self._footers[p] = None
                if self._footers[p] is None:
                    return None
                n = (n or 0) + self._footers[p][field]
                if stop_at is not None and n >= stop_at:
                    break
        return n

    def schema(self, spark: SparkSession) -> StructType:
        """The schema Spark infers for the table under ``spark``'s parquet
        inference confs, inferred once per tuple of their values. Inference
        starts a Spark job; a read through the kept schema starts none."""
        confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
        with self._lock:
            if confs not in self._schemas:
                self._schemas[confs] = spark.read.parquet(self.path).schema
            return self._schemas[confs]


#: Table path (absolute) -> its catalog entry.
_CATALOG: dict[str, TableInfo] = {}
_CATALOG_LOCK = threading.Lock()


def table_info(sf_dir: str, name: str) -> TableInfo:
    """The catalog entry of one fixture table (TESTDATA.md: one parquet file
    or directory per table), after one ``os.stat`` of its path. A missing
    table gets an entry keyed ``None``: size 0, unknown rows."""
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    try:
        st = os.stat(path)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    with _CATALOG_LOCK:
        info = _CATALOG.get(path)
        if info is None or info.key != key:
            info = _CATALOG[path] = TableInfo(path, key)
        return info


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table through its catalog entry: the read carries
    the schema :meth:`TableInfo.schema` inferred once, so it starts no
    schema-inference job.

    Every fixture here stores ``events.ts`` as microsecond, not-UTC-adjusted
    parquet, which Spark 4.1 infers as ``TimestampNTZType``; such a read
    passes the ``events`` branch below unchanged. The ns -> us ``LongType``
    branch serves nanos-written tables only, such as the one
    ``test_events_nanos_read_through_the_kept_schema`` writes: Spark
    rejects parquet TIMESTAMP(NANOS) by default (PARQUET_TYPE_ILLEGAL)
    while DuckDB truncates to micros, so the legacy conf reads nanos as
    long and integer division converts them (a double division would lose
    precision above 2^53 ns). Engine-built sessions pin the legacy conf at
    build (session.py); the set below covers FOREIGN sessions (the driver
    builds its own), and the branch is conditional because a session that
    already read the schema differently keeps working.
    """
    info = table_info(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = info.schema(spark)
    df = spark.read.schema(schema).parquet(info.path)
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def spread_scan(
    spark: SparkSession, sf_dir: str, name: str, key: str | None = None
) -> DataFrame:
    """Read one fixture table and rebalance it across the executor cores
    when - and only when - its LAYOUT cannot feed them (optimization guide
    section 2.5, "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    Parquet cannot parallelize inside a row group, so a table whose files
    hold fewer row groups than the session has cores caps every downstream
    narrow stage (explode, expensive projections, broadcast-join probes,
    partial aggregation) at that parallelism. The fixture tables are
    single-row-group files: without this, stage 1 of a pipeline runs on
    ONE core regardless of SPARK_GRAFT_CPUS. The gate reads the layout,
    not the platform: a warehouse-scale table has thousands of row groups
    per core, so the same call is a plan no-op there and costs only a
    cached footer read. Callers apply it where stage-1 per-row work
    dominates (measured per call site, OPTIMIZATION_r14.md); for cheap
    stage-1 work the repartition shuffle costs more than it buys.

    ``key`` (a column the query already reads - never widen the scan)
    makes the rebalance a deterministic hash repartition: round-robin
    would pay the sort-before-repartition pass (SPARK-23207) and is only
    retry-safe because of it. Keyless falls back to round-robin.
    """
    df = tbl(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    threshold = max(cores // 2, 2)
    # stop_at bounds the footer pass: the gate only needs n >= threshold.
    splits = table_info(sf_dir, name).row_groups(stop_at=threshold)
    if splits is None or splits >= threshold:
        return df
    return df.repartition(cores, key) if key else df.repartition(cores)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register fixture tables as temp views for SQL-expressed builders."""
    for name in names:
        tbl(spark, sf_dir, name).createOrReplaceTempView(name)


def _exact_sum(c: F.Column, scale: int) -> F.Column:
    """Exact sum of ``round(x, scale)`` as a decimal Column, at long-sum speed.

    The naive exact sum, ``sum(cast(x as decimal(25,S)))``, forces Spark's
    slow aggregation path: the accumulator type decimal(35,S) exceeds the
    18-digit compact-long threshold, so every row pays a BigDecimal add +
    changePrecision + byte-array buffer write (measured: TPC-H Q1 over 60M
    rows spends ~85% of its CPU there - tools/gen_scale.py 100x probe).

    This computes the bit-identical result through two BIGINT sums:

    - ``d = cast(x as decimal(S+8, S))`` - the same HALF_UP rounding as the
      wide cast for the documented domain |x| < 10^8, but compact-long backed.
    - ``ticks = floor(double(d) * 10^S + 0.5)`` - the integer d*10^S. Exact
      because |d*10^S| < 10^14 with <= 2 double roundings (error < 1e-2 tick,
      and the true value IS an integer, so +0.5/floor recovers it).
    - ``hi = cast(d as bigint)`` (whole units, truncated toward zero) and
      ``lo = ticks - hi*10^S`` (signed fractional ticks) sum as plain longs
      in Tungsten's fixed-width codegen path.
    - recombined once per GROUP: ``sum(hi) + sum(lo)/10^S`` in decimal(38,S)
      arithmetic - exact (sum(lo) is an integer tick count; the division
      only rescales), and identical to what the wide-decimal sum yields.

    Overflow headroom (long sums wrap silently with ANSI off): sum(hi) is
    safe below 9.2e18 / max|x| rows per group (8e13 rows at money-scale
    1e5) and sum(lo) below 9.2e12 rows per group; beyond that use
    :func:`dsum_wide`. For |x| >= 10^8 the compact cast overflows to NULL
    while the wide cast wouldn't - that case is GUARDED: a per-group
    count(c) vs count(hi) mismatch raises at execution instead of silently
    dropping the overflowed rows (tests/test_exact_sum.py).
    """
    hi, lo, unit = _exact_parts(c, scale)
    # Domain guard: with ANSI off, the compact cast overflows to NULL for
    # |x| >= 10^8 (and +/-Inf), which would silently DROP those rows from
    # the sum. hi is NULL exactly when c is NULL, NaN, or out of domain;
    # NaN is excluded because BOTH the compact and the wide cast null it
    # out (engines agree, not a divergence). So a row with a real non-NaN
    # input but a NULL hi is PRECISELY an out-of-domain row: one violation
    # counter detects them all, and the CASE arm is lazy, so raise_error
    # fires only on actual violation. Cost: ONE long counter in the agg
    # buffer next to the two long sums (measured: the earlier two-count
    # formulation cost ~45% extra on a q1-shaped agg at sf0.1, this form
    # ~10%; detection is identical - viol==0 iff the two counts matched).
    cd = c.cast("double")
    viol = F.count(F.when(cd.isNotNull() & ~F.isnan(cd) & hi.isNull(), F.lit(1)))
    return F.when(viol == 0, _exact_combine(F.sum(hi), F.sum(lo), unit, scale)).otherwise(
        F.raise_error(
            F.lit(
                f"dsum: input outside the |x| < 10^8 exact-sum domain "
                f"(scale={scale}); use dsum_wide for wide values"
            )
        )
    )


def _exact_parts(c: F.Column, scale: int) -> tuple[F.Column, F.Column, int]:
    """Per-row decomposition of ``round(x, scale)`` into long (units, ticks)."""
    # scale > 6 would fall below Spark's minimum adjusted scale in the final
    # rescaling division and silently round; every engine call site uses <= 6.
    assert 0 < scale <= 6, f"exact-sum scale must be in (0, 6], got {scale}"
    unit = 10**scale
    d = c.cast(f"decimal({scale + 8},{scale})")
    ticks = F.floor(d.cast("double") * F.lit(float(unit)) + F.lit(0.5))
    hi = d.cast("bigint")
    lo = ticks - hi * F.lit(unit)
    return hi, lo, unit


def _exact_combine(sum_hi: F.Column, sum_lo: F.Column, unit: int, scale: int) -> F.Column:
    """Recombine summed (units, ticks) exactly in decimal(38,6) arithmetic.

    The cast scale is pinned at 6 (not ``scale``) on purpose: 6 is the
    exactness floor for every admissible ``scale`` - 10^scale ticks are
    representable at scale 6 whenever scale <= 6, and 6 is also Spark's
    minimum adjusted scale for the rescaling division, so a smaller cast
    scale buys nothing and a larger one breaks the division. The assert
    makes the coupling to _exact_parts' (0, 6] domain explicit here rather
    than relying on the caller's assert alone.
    """
    assert 0 < scale <= 6, f"exact-combine scale must be in (0, 6], got {scale}"
    return sum_hi.cast("decimal(38,6)") + sum_lo.cast("decimal(38,6)") / F.lit(unit)


def dsum(col: str | F.Column, alias: str, scale: int = 6) -> F.Column:
    """Exact distributed sum of a double column.

    Routes through scaled-integer arithmetic (see :func:`_exact_sum`) so
    partial-aggregate ordering cannot change the result vs a sequential
    oracle; final cast back to double is exact on both engines. Oracle side
    mirror: ``cast(sum(cast(x as decimal(25,S))) as double)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _exact_sum(c, scale).cast("double").alias(alias)


def dsum_wide(col: str | F.Column, alias: str, scale: int = 6) -> F.Column:
    """Wide-decimal exact sum (the slow path :func:`dsum` replaced).

    Kept for values outside dsum's |x| < 10^8 domain and as the in-engine
    oracle for tests/test_exact_sum.py's equivalence property.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(25,{scale})")).cast("double").alias(alias)


def davg(col: str | F.Column, alias: str, scale: int = 6) -> F.Column:
    """Exact-sum average: decimal sum / count, deterministic on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return (_exact_sum(c, scale).cast("double") / F.count(c)).alias(alias)


# NOTE: no windowed variant of the hi/lo split exists on purpose - a window
# emits one result per ROW, so the decimal(38,6) recombine would execute per
# row and cost more than the wide-decimal frame accumulator it replaces
# (measured at 100x on win_running_sum: 2.9 s split vs 2.4 s wide).


def o_dsum(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`dsum` (without alias)."""
    return f"cast(sum(cast({expr} as decimal(25,{scale}))) as double)"


def o_davg(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`davg` (without alias)."""
    return f"cast(sum(cast({expr} as decimal(25,{scale}))) as double) / count({expr})"


def load_all() -> dict[str, QuerySpec]:
    """Import every query module so all specs are registered; return REGISTRY."""
    from bee_proof_spark.queries import (  # noqa: F401
        aggregates,
        extensions,
        filters,
        functions_scalar,
        joins,
        lateral,
        sampling,
        scans,
        setops,
        streaming_batch,
        subqueries,
        text_analysis,
        tpch,
        udf,
        windows,
    )

    return REGISTRY
