"""Physical-plan assertions: the scale properties the engine promises.

Correctness tests prove the small-SF answer; these prove the *plan* is the
one a 1000-executor cluster wants — filters reaching the parquet scan,
columns pruned, dimension sides broadcast, top-k without a global sort, and
no accidental cartesian products. A plan regression here is a 100 TB
incident even when sf0.001 results stay right.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from bee_proof_spark.queries import load_all


def _plan(spark, qid: str, sf_dir: str, mode: str = "formatted") -> str:
    df = load_all()[qid].builder(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


# -------------------------------------------------- pushdown & pruning

def test_filter_pushdown_reaches_scan(spark, sf_smoke):
    plan = _plan(spark, "scan_pushdown_filter", sf_smoke)
    assert "PushedFilters: [" in plan
    assert "EqualTo(l_quantity,50.0)" in plan
    assert "EqualTo(l_returnflag,N)" in plan


def test_q1_prunes_columns(spark, sf_smoke):
    """Q1 touches 7 of lineitem's 11 columns; the scan must not read more."""
    plan = _plan(spark, "tpch_q1_pricing", sf_smoke)
    assert "l_shipdate" in plan  # filter column present (pushed)
    for unused in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unused not in plan, f"scan reads unused column {unused}"


def test_q6_pushes_every_predicate(spark, sf_smoke):
    plan = _plan(spark, "tpch_q6_forecast", sf_smoke)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400]


# -------------------------------------------------- join strategies

@pytest.mark.parametrize(
    "qid", ["tpch_q3_shipping", "tpch_q5_local_supplier", "tpch_q9_profit"]
)
def test_dimension_joins_broadcast(spark, sf_smoke, qid):
    plan = _plan(spark, qid, sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_anti_joins_planned(spark, sf_smoke, monkeypatch):
    # Small fixture: the fact-size gate must NOT pay the probe-side
    # distinct's two extra jobs (r5 A/B: +25% at sf0.1 for nothing).
    q4 = _plan(spark, "tpch_q4_priority", sf_smoke, mode="simple")
    assert "LeftSemi" in q4
    assert q4.count("HashAggregate") == 2, "distinct paid on a small fixture"
    # Above the gate: the probe side pre-dedups to distinct order keys - a
    # partial+final HashAggregate pair (on top of the count agg's own pair)
    # so the semi-join shuffle carries one key per (map partition, order),
    # not one row per returned lineitem (30% at the 100x fixture).
    from bee_proof_spark.queries import tpch

    monkeypatch.setattr(tpch, "table_info", lambda sf, name: SimpleNamespace(bytes=1 << 40))
    q4_big = _plan(spark, "tpch_q4_priority", sf_smoke, mode="simple")
    assert q4_big.count("HashAggregate") == 4, "probe-side distinct dropped"
    q22 = _plan(spark, "tpch_q22_global_sales", sf_smoke)
    assert "LeftAnti" in q22


def test_lsh_join_is_not_cartesian(spark, sf_smoke):
    """Band-bucket candidate joins must stay equi-joins (hash/merge-able)."""
    for qid in ("ext_dedup_fuzzy", "ext_dedup_simhash"):
        plan = _plan(spark, qid, sf_smoke)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_plan_shape(spark, sf_smoke):
    """The frozen-quantizer IVF path (oracled r8) must keep the scale
    shape: broadcast probe join (never cartesian/BNLJ), top-k via
    WindowGroupLimit, no row-at-a-time Python eval. (The Arrow-matmul
    assignment UDF lives inside the _ivf_assigned family checkpoint, so
    the served plan shows the staged scan, not the UDF - same as the knn
    bucket table.)"""
    plan = _plan(spark, "ext_knn_ivf", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan  # Arrow batches only, never per-row


# -------------------------------------------------- top-k & aggregation shape

def test_topk_avoids_global_sort(spark, sf_smoke):
    plan = _plan(spark, "tpch_q3_shipping", sf_smoke)
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark, sf_smoke):
    """Map-side combine: HashAggregate appears as partial + final pair."""
    plan = _plan(spark, "tpch_q1_pricing", sf_smoke, mode="simple")
    assert plan.count("HashAggregate") >= 2


def test_knn_topk_uses_window_group_limit(spark, sf_smoke):
    """WindowGroupLimit pushes rank<=k below the full sort of each group."""
    plan = _plan(spark, "ext_knn_cosine", sf_smoke, mode="simple")
    assert "WindowGroupLimit" in plan


# -------------------------------------------------- no driver-side loops

def test_no_collect_in_operator_sources():
    """Operator builders must stay distributed: no .collect()/.toPandas() in
    any query-building module (bench/tests/driver own materialization)."""
    import pathlib

    qdir = pathlib.Path(__file__).parent.parent / "bee_proof_spark" / "queries"
    offenders = []
    for py in qdir.glob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "# driver-ok:" in line:
                continue  # reviewed tiny-result fetch (e.g. stratum keys)
            if ".collect()" in line or ".toPandas()" in line:
                offenders.append(f"{py.name}:{i}")
    assert not offenders, f"driver-side materialization in {offenders}"


def test_bucketed_join_skips_shuffle(spark, sf_smoke):
    """Pre-bucketed sides joined on the bucket key: no Exchange below the
    SortMergeJoin (the whole point of bucketing at 100 TB)."""
    df = load_all()["join_smb_bucketed"].builder(spark, sf_smoke)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plan = df._jdf.queryExecution().explainString(jmode)
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "SortMergeJoin" in plan
    # the only allowed Exchange is above the join (final aggregation)
    assert "Exchange" not in join_part, "bucketed join still shuffles"


def test_partition_pruning_on_partitioned_layout(spark, sf_smoke, tmp_path):
    """A filter on the partition column must prune directories at planning
    time (PartitionFilters in the scan), not read-then-filter - at 100 TB
    this is the difference between one partition and the whole table."""
    from bee_proof_spark.queries import tbl

    path = str(tmp_path / "orders_by_status")
    tbl(spark, sf_smoke, "orders").write.partitionBy("o_orderstatus").parquet(path)
    df = spark.read.parquet(path).filter("o_orderstatus = 'F'").select("o_orderkey")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "o_orderstatus" in pf, f"partition filter not pushed: {pf!r}"


def test_runtime_bloom_filter_injection(spark, sf_smoke):
    """With a selective build side and no broadcast, Catalyst must inject a
    runtime Bloom filter (might_contain) on the probe side - at 100 TB this
    prunes most probe rows BEFORE the shuffle instead of after the join."""
    from bee_proof_spark.queries import tbl

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = tbl(spark, sf_smoke, "lineitem")
        orders = tbl(spark, sf_smoke, "orders").filter("o_orderstatus = 'F'")
        df = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, sf_smoke, tmp_path):
    """Joining a partitioned fact to a filtered dim on the partition column
    must inject a dynamicpruningexpression into the fact scan's
    PartitionFilters - at 100 TB the fact partitions to read are discovered
    at RUNTIME from the dim build side instead of scanning wholesale."""
    from bee_proof_spark.queries import tbl

    path = str(tmp_path / "orders_dpp")
    tbl(spark, sf_smoke, "orders").write.partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")], "st string, label string"
    ).filter("label = 'final'")
    df = fact.join(dim, fact.o_orderstatus == dim.st).select("o_orderkey", "label")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "dynamicpruningexpression" in plan.lower()


def test_simhash_no_bit_explode(spark, sf_smoke):
    """The simhash signature must come from 64 conditional sums over token
    rows, never a 64x explode(sequence(0,63)) row amplification (a 64x
    shuffle-input multiplier at 100 TB)."""
    plan = _plan(spark, "ext_dedup_simhash", sf_smoke, mode="extended")
    assert "sequence(0, 63" not in plan


def test_simhash_matches_numpy_bit_twiddle(spark, sf_smoke):
    """Cross-implementation agreement: the SQL conditional-sum signature must
    equal a direct Python bit-twiddle over the same per-token md5-lane
    values (each path is the other's oracle, mirroring the knn jvm/arrow
    pair). Hashes are recomputed here with hashlib - so this also pins that
    Spark's md5/conv/substring chain equals the reference md5, the property
    the generated DuckDB oracle relies on."""
    import hashlib

    from pyspark.sql import functions as F

    from bee_proof_spark.queries import tbl
    from bee_proof_spark.queries.extensions import _words, simhash_signatures

    d = tbl(spark, sf_smoke, "documents").filter(F.col("doc_id") < 40)
    tok = (
        _words(d)
        .select("doc_id", F.explode("words").alias("word"))
        .collect()
    )
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in tok:
        m = hashlib.md5(r["word"].encode("utf-8")).hexdigest()
        by_doc.setdefault(r["doc_id"], []).append(
            (int(m[0:8], 16), int(m[8:16], 16))
        )

    expected = {}
    for doc_id, hashes in by_doc.items():
        lo_sig = hi_sig = 0
        for i in range(32):
            lo_votes = sum(1 if (lo >> i) & 1 else -1 for lo, _ in hashes)
            hi_votes = sum(1 if (hi >> i) & 1 else -1 for _, hi in hashes)
            if lo_votes > 0:
                lo_sig |= 1 << i
            if hi_votes > 0:
                hi_sig |= 1 << i
        expected[doc_id] = (lo_sig, hi_sig)

    actual = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in simhash_signatures(d).collect()
    }
    assert actual == expected


# The driver-comparator contract (no array/map/struct output columns - the
# driver's row-hash cannot canonicalize them) is enforced inside
# bee_proof_spark.testing.compare_to_oracle, which the oracle gate runs for
# every registered query with the DataFrame already built. A standalone test
# here would re-execute every heavyweight builder (streaming replays, KMeans,
# the clustering loop) a second time just to read schemas.


def test_decontaminate_broadcasts_eval_set(spark, sf_smoke):
    """The eval shingle set must broadcast: the training-postings scan joins
    it without shuffling on the join key (benchmarks are tiny; the corpus is
    not)."""
    plan = _plan(spark, "ext_decontaminate", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_emb_lsh_verify_join_never_sorts(spark, sf_smoke, monkeypatch):
    """The exact-cosine verify joins must not sort-merge: an SMJ sorts two
    ~530 B-wide unit-vector streams per join (measured at 2M vectors: ~14 GB
    of sort spill for a 1 GB dim table - SCALE.md r6). In the broadcast
    regime the verify is map-side; past _EMB_BCAST_BYTES a shuffled hash
    join still keeps the wide rows out of any sort."""
    import bee_proof_spark.queries.extensions as X

    plan = _plan(spark, "ext_dedup_embedding_lsh", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    monkeypatch.setattr(X, "_EMB_BCAST_BYTES", 0)  # force the big-corpus arm
    plan = _plan(spark, "ext_dedup_embedding_lsh", sf_smoke, mode="simple")
    assert "ShuffledHashJoin" in plan and "SortMergeJoin" not in plan


def test_q21_single_fact_pass(spark, sf_smoke):
    """Q21's EXISTS / NOT EXISTS are algebraized into ONE per-order
    aggregate over min/max/count (r15 rewrite): exactly one lineitem scan
    (no fact self-joins), no Window (the old window form paid a
    per-partition sort of the whole joined fact stream), no
    ObjectHashAggregate (a collect_set formulation was A/B-rejected -
    fixed-width codegen buffers only), supplier/nation broadcast, and
    never a cartesian/BNLJ (fact x fact would be a 100 TB incident)."""
    import re

    plan = _plan(spark, "tpch_q21_waiting", sf_smoke, mode="simple")
    assert plan.count("lineitem.parquet") == 1, "fact self-join reappeared"
    assert not re.findall(r"\bWindow \[", plan), "window form reappeared"
    assert "ObjectHashAggregate" not in plan  # min/max/count stay codegen
    assert "collect_set" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_broadcasts_all_dims(spark, sf_smoke):
    """Q2's four dimension joins (part/supplier/nation/region) must all be
    broadcast builds - lineitem is the only shuffling relation."""
    plan = _plan(spark, "tpch_q2_min_cost", sf_smoke, mode="simple")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q20_is_semi_join_chain(spark, sf_smoke):
    """Q20's nested IN-subqueries must plan as a left-semi membership join
    with the part filter broadcast - no row duplication into the supplier
    output, no cartesian."""
    plan = _plan(spark, "tpch_q20_excess_stock", sf_smoke, mode="simple")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q16_dedups_pairs_before_counting(spark, sf_smoke):
    """Q16 must reduce lineitem to the distinct part-supplier relationship
    (HashAggregate) before joining part, and keep the exclusion anti-join."""
    plan = _plan(spark, "tpch_q16_supplier_cnt", sf_smoke, mode="simple")
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_one_shuffle_no_bnlj(spark, sf_smoke):
    """The as-of join must be the union-tag + running-window idiom: one
    Exchange on the key and zero join operators - a naive range join would
    plan BroadcastNestedLoop/cartesian and explode with time density."""
    plan = _plan(spark, "join_asof_backward", sf_smoke, mode="simple")
    assert plan.count("Exchange") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_range_join_bucketized_is_equi_join(spark, sf_smoke):
    """The bucketized range join must plan as a hash/sort-merge equi-join on
    the month bucket - the naive range predicate would be a
    BroadcastNestedLoop, quadratic in time density."""
    plan = _plan(spark, "join_range_bucketed", sf_smoke, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_shuffle_shard_sorts_per_shard_not_globally(spark, sf_smoke):
    """Shard ranking must partition the window by shard_id (parallel
    per-shard sorts) - a global row_number would plan Exchange
    SinglePartition, the classic sort bottleneck at corpus scale."""
    plan = _plan(spark, "ext_corpus_shuffle_shard", sf_smoke, mode="simple")
    assert "SinglePartition" not in plan
    assert "Exchange hashpartitioning" in plan


def test_scd2_reuses_one_window_sort(spark, sf_smoke):
    """SCD2's change-detect lag and interval-close lead share one window
    spec: exactly one Exchange and one Sort in the plan (two sorts would
    double the cost of the 100 TB history build)."""
    plan = _plan(spark, "dml_scd2_history", sf_smoke, mode="simple")
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") == 1


def test_hash_sampling_is_shuffle_free(spark, sf_smoke):
    """Deterministic hash sampling is a pure per-row filter on the scan:
    zero Exchange in the plan (membership is a function of the row key)."""
    for qid in ("sample_hash_bernoulli", "sample_stratified_hash"):
        plan = _plan(spark, qid, sf_smoke, mode="simple")
        assert "Exchange" not in plan, qid


def test_domain_mixture_broadcasts_cutoffs(spark, sf_smoke):
    """The per-stratum cutoff table (one row per lang) must broadcast into
    the corpus scan - the corpus itself never shuffles."""
    plan = _plan(spark, "ext_domain_mixture", sf_smoke, mode="simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_chunking_has_no_shuffle(spark, sf_smoke):
    """Chunking is embarrassingly parallel: per-doc explode only, zero
    Exchange in the plan."""
    plan = _plan(spark, "ext_chunk_documents", sf_smoke, mode="simple")
    assert "Exchange" not in plan


def test_skew_salted_join_is_shuffle_join(spark, sf_smoke):
    """The salted join demo must actually exercise the shuffle-join path
    (broadcast would make salting pointless) and stay equi-keyed."""
    plan = _plan(spark, "join_skew_salted", sf_smoke, mode="simple")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_jvm_and_arrow_paths_agree(spark, sf_smoke):
    """Two independent implementations of brute-force cosine top-k (JVM
    higher-order functions vs Arrow/numpy matmul) must return identical
    results - each is the other's oracle."""
    reg = load_all()
    jvm = {
        (r["q_id"], r["rnk"]): (r["c_id"], r["cosine"])
        for r in reg["ext_knn_cosine"].builder(spark, sf_smoke).collect()
    }
    arrow = {
        (r["q_id"], r["rnk"]): (r["c_id"], r["cosine"])
        for r in reg["ext_knn_cosine_arrow"].builder(spark, sf_smoke).collect()
    }
    assert jvm == arrow


def test_registry_wide_no_unallowlisted_antipatterns(spark, sf_smoke):
    """Every registered query's physical plan, swept for the three hard
    100 TB anti-patterns (CartesianProduct, BroadcastNestedLoopJoin,
    BatchEvalPython). The per-id assertions above guard the heavy hitters;
    this guards the other ~170 - a NEW operator that quietly plans a
    cartesian or a row-at-a-time Python eval fails here before it reaches
    a driver round. An exemption requires a written reason in
    tools/plan_audit.py::ALLOW."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_audit import ALLOW, flags_for

    reg = load_all()
    bad = []
    for qid in sorted(reg):
        plan = _plan(spark, qid, sf_smoke)
        for pat in flags_for(plan):
            if pat not in ALLOW.get(qid, {}):
                bad.append(f"{qid}: {pat}")
    assert not bad, f"unallowlisted plan anti-patterns: {bad}"


@pytest.mark.parametrize(
    "qid, fns",
    [
        ("win_percent_cume", ("percent_rank", "cume_dist")),
        ("win_rank_dense", ("dense_rank",)),
        ("win_ntile", ("ntile",)),
    ],
)
def test_banded_rank_rewrites_match_plain_window(spark, sf_smoke, monkeypatch, qid, fns):
    """Above the fact-size gate the status-ranked window ids switch to banded
    ranking (the 3-value partition key caps plain-window parallelism at 3
    tasks on any cluster size); the banded values must equal the plain
    window's bit-for-bit, and the banded plan must not contain the plain
    window function (the full-data window partitions by (status, band))."""
    from bee_proof_spark.queries import load_all, windows

    reg = load_all()
    plain = sorted(map(tuple, reg[qid].builder(spark, sf_smoke).collect()))
    monkeypatch.setattr(windows, "table_info", lambda sf, name: SimpleNamespace(bytes=1 << 40))
    banded_df = reg[qid].builder(spark, sf_smoke)
    banded = sorted(map(tuple, banded_df.collect()))
    assert plain == banded
    plan = banded_df._jdf.queryExecution().executedPlan().toString()
    for fn in fns:
        assert fn not in plan
    assert "row_number" in plan


def test_pack_sequences_banded_prefix_sum_matches_plain(spark, sf_smoke, monkeypatch):
    """ext_pack_sequences' banded prefix-sum (above the corpus gate) must
    reproduce the plain lang-partitioned running sum exactly - integer
    token arithmetic, so equality is bitwise."""
    from bee_proof_spark.queries import extensions, load_all

    reg = load_all()
    plain = sorted(map(tuple, reg["ext_pack_sequences"].builder(spark, sf_smoke).collect()))
    monkeypatch.setattr(extensions, "table_info", lambda sf, name: SimpleNamespace(bytes=1 << 40))
    banded_df = reg["ext_pack_sequences"].builder(spark, sf_smoke)
    banded = sorted(map(tuple, banded_df.collect()))
    assert plain == banded


def test_boilerplate_spans_stay_aggregate_shaped(spark, sf_smoke):
    """Cross-doc span coverage is inverted-index work: a gram-keyed distinct
    aggregate, equi-joins, and ONE doc_id-keyed window for the interval
    union - never a gram-keyed window (a viral boilerplate gram would buffer
    its entire occurrence list in a single task's frame) and never a pair
    join. The hot-gram side carries no broadcast HINT (small fixtures may
    auto-broadcast; a web-scale duplicated-gram set must be free to
    shuffle-join), and the corpus scan prunes to (doc_id, text)."""
    import re

    plan = _plan(spark, "ext_boilerplate_ngrams", sf_smoke, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "count(distinct doc_id" in plan  # cross-doc df, not occurrence count
    windows = re.findall(r"Window \[.*?\], \[(\w+)", plan)
    assert windows and all(k.startswith("doc_id") for k in windows), windows
    assert "struct<doc_id:bigint,text:string>" in plan  # column pruning


def test_boilerplate_interval_union_matches_explode_distinct(spark, sf_smoke):
    """The equal-span interval union (5 + sum(min(5, delta-pos)) over the
    doc-keyed window) must count exactly the positions the naive x5
    explode + per-doc distinct counts - on the real fixture, whose 1k+
    cross-doc grams give overlapping, gapped, AND back-to-back spans."""
    from pyspark.sql import functions as F

    from bee_proof_spark.queries import load_all, tbl

    got = load_all()["ext_boilerplate_ngrams"].builder(spark, sf_smoke)

    d = tbl(spark, sf_smoke, "documents")
    words = d.select("doc_id", F.split("text", " ").alias("ws"))
    grams = (
        words.filter(F.size("ws") >= 5)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(ws) - 4),"
                    " i -> array_join(slice(ws, i, 5), ' '))"
                )
            ).alias("p0", "gram"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram")
    )
    ref = (
        grams.join(hot, "gram")
        .select(
            "doc_id",
            F.explode(F.sequence("pos", F.col("pos") + F.lit(4))).alias("cp"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("cp").cast("bigint").alias("n_covered"))
    )
    exp = {r["doc_id"]: r["n_covered"] for r in ref.collect()}
    act = {r["doc_id"]: r["n_covered"] for r in got.collect()}
    assert {k: v for k, v in act.items() if v} == exp
    assert any(v for v in act.values())  # fixture actually exercises the union


def test_per_doc_text_signals_are_shuffle_free(spark, sf_smoke):
    """Per-document text signals whose state lives inside the row
    (fingerprint's distinct word set, repetition's bigram multiset) must
    plan as pure scans: zero Exchange. An explode + groupBy(doc_id)
    formulation that shuffles the corpus to rebuild per-row state is the
    regression this guards against."""
    for qid in ("ext_text_fingerprint", "ext_repetition_ratio", "ext_text_tokens"):
        plan = _plan(spark, qid, sf_smoke, mode="simple")
        assert "Exchange" not in plan, qid


def test_simhash_staged_sig_is_aqe_sized(spark, sf_smoke):
    """The staged signature table must stay AQE-coalescible (r14: a keyed
    spread let the signature groupBy elide its exchange, pinning the tiny
    5k-row table at scan-spread width - every warm downstream stage then
    paid near-empty tasks; keyless round-robin keeps the agg exchange
    alive). Pin: after staging, the cached sig holds FAR fewer partitions
    than the cores the spread would have pinned."""
    from bee_proof_spark.queries import extensions as ext

    ext.ext_dedup_simhash(spark, sf_smoke).write.format("noop").mode(
        "overwrite"
    ).save()
    app = spark.sparkContext.applicationId
    sig = ext._FAMILY_CACHE[(app, sf_smoke, "simhash_sig")]
    assert sig.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism


def test_emb_lsh_warm_plan_starts_at_staged_buckets(spark, sf_smoke):
    """ext_dedup_embedding_lsh's capped bucket table stages once per (app,
    corpus) (r14): a repeat call's plan must read the staged RDD, not
    re-run the Arrow bucket UDF + cap window."""
    load_all()["ext_dedup_embedding_lsh"].builder(spark, sf_smoke).write.format(
        "noop"
    ).mode("overwrite").save()
    warm = _plan(spark, "ext_dedup_embedding_lsh", sf_smoke)
    assert "ArrowEvalPython" not in warm and "posexplode" not in warm
    assert "ExistingRDD" in warm
