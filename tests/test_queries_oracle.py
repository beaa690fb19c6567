"""The local t2 gate: every registered query must hash-match its DuckDB oracle
(or produce rows, for rows-only specs) before it may be declared in
``__spark_entry__.py``. Parametrized over the full registry, plus the
size-gated ids again under ``forced_gates()`` (their at-scale plans)."""

from __future__ import annotations

import dataclasses
import re

import pytest

from bee_proof_spark.queries import load_all
from bee_proof_spark.testing import compare_to_oracle, forced_gates

REGISTRY = load_all()

#: size-gated ids, at least one for each ``FORCED_GATES`` row (other ids that
#: read a family stage flip too, and are covered by ``tools/sweep.py``)
GATED_IDS = (
    "win_rank_dense",
    "win_ntile",
    "win_percent_cume",
    "tpch_q4_priority",
    "ext_pack_sequences",
    "ext_dedup_ngram_jaccard",
    "ext_knn_ann_recall",
    "ext_dedup_embedding",
    "ext_dedup_embedding_lsh",
    "stream_dedup_state",
)


def _optimized_plan(df) -> str:
    """Optimized logical plan with expression ids blanked, so two builds of
    the same plan compare equal."""
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


@pytest.mark.parametrize(
    "qid, forced",
    [pytest.param(q, False, id=q) for q in sorted(REGISTRY)]
    + [pytest.param(q, True, id=f"forced-{q}") for q in GATED_IDS],
)
def test_query_matches_oracle(spark, sf_oracle, qid, forced):
    if not forced:
        ok, msg = compare_to_oracle(spark, REGISTRY[qid], sf_oracle)
        assert ok, msg
        return
    plain = _optimized_plan(REGISTRY[qid].builder(spark, sf_oracle))
    with forced_gates():
        spec = REGISTRY[qid]  # forced_gates() may swap in a regenerated oracle
        df = spec.builder(spark, sf_oracle)
        ok, msg = compare_to_oracle(
            spark, dataclasses.replace(spec, builder=lambda *_: df), sf_oracle
        )
        assert ok, msg
        assert not df.isEmpty(), f"[{qid}] forced plan returned no rows"
        assert _optimized_plan(df) != plain, f"[{qid}] forcing left the plan unchanged"


def test_entry_smoke(spark, sf_smoke):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) > 0


def test_contract_consistency():
    """oracle_sql() keys must be a subset of queries() keys."""
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(REGISTRY)


def test_bigram_ops_handle_short_docs(spark, tmp_path):
    """1-word and 2-word docs must neither crash nor emit half-bigrams: the
    old sequence(1, greatest(n-1, 0)) guard DESCENDED ([1, 0]) for 1-word
    docs (element_at(ws, 0) throws; getItem variants emitted spurious rows
    the oracle omits). Both bigram fan-outs row-filter to >= 2 words now."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": pa.array(["solo", "two words", "a b a b a"]),
                "lang": pa.array(["en", "en", "de"]),
                "source": pa.array(["src0", "src0", "src1"]),
                "n_chars": pa.array([4, 9, 9], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    for qid in ("ext_repetition_ratio", "ext_text_topk_ngrams"):
        ok, msg = compare_to_oracle(spark, REGISTRY[qid], str(tmp_path))
        assert ok, f"{qid}: {msg}"
