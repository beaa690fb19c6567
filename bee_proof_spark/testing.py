"""Local replica of the driver's t2 correctness gate.

Runs a registered query's Spark builder and its DuckDB oracle side-by-side on
the same parquet fixtures and compares row-count + schema (column names) +
order-insensitive values, mirroring the contract described in
``__spark_entry__.py`` (sort columns by name, hash values). Used by the test
suite so nothing gets declared in ``queries()``/``oracle_sql()`` before it
passes here.
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as _dt
import decimal as _decimal
import importlib
import math

import duckdb
from pyspark.sql import SparkSession

from bee_proof_spark.queries import REGISTRY, TABLES, QuerySpec

#: (module under bee_proof_spark, attribute, at-scale value) for every size
#: gate. Each gate site reads its constant at call time, so setting these
#: after import is enough.
FORCED_GATES = (
    ("queries.windows", "_BANDED_RANK_BYTES", 0),  # banded ranking
    ("queries.tpch", "_Q4_PROBE_DEDUP_BYTES", 0),  # q4 probe pre-dedup
    ("queries.extensions", "_PACK_BAND_BYTES", 0),  # banded prefix sum
    ("queries.extensions", "_DISK_STAGE_DOC_BYTES", 0),  # disk-staged text family
    ("queries.extensions", "_DISK_STAGE_EMB_BYTES", 0),  # disk-staged emb family
    ("streaming.replay", "_PARQUET_SINK_ROWS", 1),  # parquet stream sink
    ("queries.extensions", "_EMB_TILE_ROWS", 64),  # multi-tile pair join
    # Non-fixture plane count: the parameterized bucket math a scale run
    # takes. P=10 still leaves rows to hash (4 at sf0.001, 5 at sf0.01, 87 at
    # sf0.1); P >= 13 empties both engines' output at sf0.01 and below.
    ("queries.extensions", "_EMB_LSH_PLANES_PIN", 10),
)


@contextlib.contextmanager
def forced_gates():
    """Set every ``FORCED_GATES`` attribute for the duration of the block,
    restoring the plain values on exit. The family-stage cache is dropped on
    both edges so no stage built under one branch serves the other, and the
    ``ext_dedup_embedding_lsh`` oracle, generated at import from the plane
    count, is regenerated for the pinned count."""
    from bee_proof_spark.queries import extensions

    saved = []
    lsh = REGISTRY["ext_dedup_embedding_lsh"]
    try:
        for mod, attr, value in FORCED_GATES:
            m = importlib.import_module(f"bee_proof_spark.{mod}")
            saved.append((m, attr, getattr(m, attr)))
            setattr(m, attr, value)
        REGISTRY[lsh.id] = dataclasses.replace(lsh, oracle=extensions._emb_lsh_oracle())
        extensions._FAMILY_CACHE.clear()
        yield
    finally:
        for m, attr, value in reversed(saved):
            setattr(m, attr, value)
        REGISTRY[lsh.id] = lsh
        extensions._FAMILY_CACHE.clear()


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with fixture tables registered as views."""
    import os

    con = duckdb.connect()
    # Pin the session TimeZone: to_timestamp() returns TIMESTAMPTZ and its
    # cast to naive timestamp is TimeZone-dependent, while the Spark side
    # pins UTC - on a non-UTC host every epoch-built window boundary would
    # shift by the UTC offset and falsely mismatch.
    con.execute("SET TimeZone='UTC'")
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if not os.path.exists(path):
            continue  # partial fixture dir (edge-case tests); absent tables stay unregistered
        # A file that EXISTS but fails to read is a real error (corrupt
        # fixture): re-raise instead of silently skipping, which would later
        # surface as a confusing 'table does not exist' in the oracle query.
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon(v):
    """Canonicalize one cell for order-insensitive comparison."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0"  # collapse -0.0 / 0.0
        # exact double identity via repr
        return repr(v)
    if isinstance(v, _decimal.Decimal):
        # queries cast decimals to double before returning; if one engine
        # still surfaces Decimal, compare through the double value
        return repr(float(v))
    if isinstance(v, _dt.datetime):
        # tz-aware cells canonicalize by their INSTANT (convert to UTC),
        # not their local wall-clock - replace(tzinfo=None) alone would
        # make the same instant compare unequal on a non-UTC host
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc)
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, bool):
        return str(v)
    return str(v)


def _rowset(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Project to name-sorted column order and sort rows canonically."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare_to_oracle(
    spark: SparkSession, spec: QuerySpec, sf_dir: str, max_diff_show: int = 5
) -> tuple[bool, str]:
    """Run Spark builder vs DuckDB oracle; return (ok, message)."""
    sdf = spec.builder(spark, sf_dir)
    # Driver-comparator contract: the driver's row-hash cannot canonicalize
    # array/map/struct cells (three r1 CORRECTNESS rows died on this), so no
    # registered query may emit complex-typed output columns. Checked here
    # because every registered query passes through this gate with its
    # DataFrame already built (no separate full re-execution needed).
    from pyspark.sql.types import ArrayType, MapType, StructType

    complex_cols = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if complex_cols:
        return False, f"complex-typed output columns (driver-unhashable): {complex_cols}"
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = list(sdf.columns)

    if spec.oracle is None:
        return True, f"rows-only: {len(s_rows)} rows"

    con = duckdb_connect(sf_dir)
    try:
        res = con.execute(spec.oracle)
        o_cols = [d[0] for d in res.description]
        o_rows = res.fetchall()
    finally:
        con.close()

    msgs = []
    if len(s_rows) != len(o_rows):
        msgs.append(f"row count: spark={len(s_rows)} oracle={len(o_rows)}")
    if sorted(s_cols) != sorted(o_cols):
        msgs.append(f"schema: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
    if not msgs:
        s_set = _rowset(s_cols, s_rows)
        o_set = _rowset(o_cols, o_rows)
        if s_set != o_set:
            diffs = [
                f"  spark: {a}\n  oracle:{b}"
                for a, b in zip(s_set, o_set)
                if a != b
            ][:max_diff_show]
            extra_s = [r for r in s_set if r not in set(o_set)][:max_diff_show]
            msgs.append(
                "value mismatch; first diffs:\n"
                + "\n".join(diffs)
                + ("\n  spark-only rows: " + repr(extra_s) if extra_s else "")
            )
    if msgs:
        return False, f"[{spec.id}] " + "; ".join(msgs)
    return True, f"[{spec.id}] ok: {len(s_rows)} rows x {len(s_cols)} cols"
