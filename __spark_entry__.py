"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``bee_proof_spark.queries`` (SURVEY.md section 2
inventory); every id declared here passes the same comparison locally first
(tests/test_queries_oracle.py).

Rows-only contract: 2 of the registered ids intentionally omit
``oracle_sql()`` because their OUTPUT (not their correctness) is
engine-specific, and each has an oracle-checked twin covering the
capability:

- ``tablesample_rows`` / ``ext_sample_stratified`` (sample membership is
  engine-specific for Spark's seeded samplers) -> ``sample_hash_bernoulli``
  / ``sample_stratified_hash`` / ``ext_domain_mixture`` hash-check the
  sampling capability with deterministic md5-cutoff membership.

Order matters because the verify records only the first 50 ids of
``queries()`` per round, so the registry is sorted by one key: oracled
ids that have never been hash-green in a ``CORRECTNESS_r*.json`` ledger
first, then greens stalest round first, then the rows-only ids.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bee_proof_spark.queries import load_all  # noqa: E402

_REGISTRY = load_all()

_FAMILY_PRIORITY = [
    "joins", "windows", "setops", "subqueries", "tpch", "lateral",
    "sampling", "scans", "functions_scalar", "udf", "streaming_batch",
    "text_analysis", "extensions", "aggregates", "filters",
]


def _green_rounds() -> dict[str, int]:
    """qid -> LATEST round with a hash-green driver-ledger row for it."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                for qid, row in json.load(f).items():
                    if row.get("hash_match"):
                        latest[qid] = max(latest.get(qid, 0), rnd)
        except Exception:
            pass
    return latest


def _ordered_ids() -> list[str]:
    green_round = _green_rounds()

    def key(pair):
        idx, qid = pair
        spec = _REGISTRY[qid]
        mod = spec.builder.__module__.rsplit(".", 1)[-1]
        fam = _FAMILY_PRIORITY.index(mod) if mod in _FAMILY_PRIORITY else 99
        return (spec.oracle is None, green_round.get(qid, 0), fam, idx)

    return [qid for _, qid in sorted(enumerate(_REGISTRY), key=key)]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    from bee_proof_spark.queries.tpch import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2."""
    return {qid: _REGISTRY[qid].builder for qid in _ordered_ids()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query id; rows-only specs are omitted."""
    return {
        qid: _REGISTRY[qid].oracle
        for qid in _ordered_ids()
        if _REGISTRY[qid].oracle is not None
    }
