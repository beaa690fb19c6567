"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Methodology (self-adjudicating, round-3):

- Uniform materialization: every query is forced through the ``noop`` sink
  (``df.write.format("noop")``) so Catalyst cannot prune computed columns
  that don't affect row cardinality. The previous count()/collect() split
  undercounted ext_* work (a score column surviving only the projection is
  free under count()).
- EVERY query gets TWO timed passes and reports the min; one noisy pass
  (GC, driver-host contention, a cold page cache on first touch of a
  table) can no longer masquerade as a regression. Measured: a tail
  query's single cold pass ran 3-4x its warm floor purely on parquet
  page-in (dml_scd2_history 3.8 s cold vs 0.84 s warm, identical
  one-shuffle plan), which is I/O noise, not operator cost. If the two
  samples disagree by more than 3x, a THIRD pass adjudicates (the min of
  three is reported) - bounding the warmup blind spot for queries late in
  the list whose first timed pass is cold.
- Raw per-pass times are emitted as a separate JSON line
  ``{"bench_runs": {...}}`` (and to ``$SPARK_GRAFT_BENCH_RUNS`` if set)
  BEFORE the compact result line, so a reader can adjudicate noise vs real
  slowdown from the artifact while the driver's tail-capture still sees
  the compact ``{metric,value,queries,sf}`` line LAST and intact
  (round-3 lesson: a single fat line overflowed the capture window and
  truncated the head). ``spark.ui.showConsoleProgress`` is pinned off so
  progress bars can't pollute the captured stream. STABLE_QUERIES marks
  the core set benched every round since r1 (the round-over-round
  comparison basis); TAIL_QUERIES are heavier/newer operators added to
  the headline later.
- A fixed calibration workload (calibration_pass: synthetic 20M-row
  CPU+shuffle job, fixture-independent, constant across rounds) brackets
  EVERY sweep pass (r8): samples land before pass 1, between passes, and
  after adjudication, emitted as ``pass_calibration`` bracket pairs plus
  per-query ``query_calibration_ratio`` (floor / calibration floor) in the
  runs line - a stall inside one pass is attributable to that pass from
  the artifact alone. Each bracket point is itself a MIN-OF-5 (r10
  verdict #3) behind a self-terminating priming loop (r11 verdict #3).
- One-time family-checkpoint staging cost is a NAMED map (``staging``:
  pass-0 minus warm floor for every STAGING_QUERIES member - the queries
  whose first pass builds a family stage) instead of hiding inside
  min-of-passes (r8).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bee_proof_spark.queries import load_all
from bee_proof_spark.session import build_session

#: Core set benched every round since r1 — timed twice, min reported.
STABLE_QUERIES = [
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast",
    "tpch_q9_profit",
    "tpch_q13_custdist",
    "tpch_q18_large_volume",
    "agg_basic",
    "agg_skew_salted",
    "win_topk_per_group",
    "stream_tumbling_batch",
    "join_smb_bucketed",
    "ext_dedup_exact",
    "ext_text_wordcount",
    "ext_knn_cosine",
    "ext_dedup_fuzzy",
]

#: Long tail: heavier / newer operators; same interleaved two-pass timing
#: (min reported) as STABLE_QUERIES - kept separate only as the set added
#: to the headline after r1, not the round-over-round comparison basis.
TAIL_QUERIES = [
    "tpch_q4_priority",       # EXISTS-subquery shape
    "tpch_q22_global_sales",  # NOT-EXISTS + scalar-subquery shape
    "tpch_q8_market_share",   # 8-table star join, conditional-share agg
    "tpch_q21_waiting",       # EXISTS + NOT-EXISTS fact self-joins (heaviest)
    "win_running_sum",        # running-frame window
    "dml_scd2_history",       # SCD2 build: single-sort dual-window
    "union_distinct",         # set-op shuffle dedup
    "join_asof_backward",     # union-tag + running-window as-of join
    "join_range_bucketed",    # bucketized point-in-interval join
    "ext_domain_mixture",     # count pass + broadcast cutoffs + hash filter
    "ext_dedup_fuzzy_verified",  # LSH + exact-verify pipeline
    "ext_dedup_cluster",         # iterative connected components
    "ext_decontaminate",         # broadcast contains-any-ngram join
    "ext_chunk_documents",       # shuffle-free sliding-window fan-out
    "ext_pack_sequences",
    "ext_boilerplate_ngrams",    # cross-doc dup-span coverage (r5)
    # r6 heavy-tail widening (VERDICT r5 #6): regressions in the expensive
    # families should surface in the driver's BENCH artifact, not only in
    # SCALE.md probes.
    "win_rank_dense",            # rank window (banded above the size gate)
    "ext_text_tfidf",            # two-level agg + join, heaviest text op
    "ext_dedup_ngram_jaccard",   # inverted-index exact-Jaccard self-join
    "stream_dedup_state",        # true readStream stateful dedup
    "ext_dedup_embedding_lsh",   # hyperplane-bucket near-dup (r6)
    "ext_knn_lsh",               # multi-table LSH ANN, oracled + bucket
                                 # checkpoint (r7)
    # r8 graduations: both newly hash-checked paths join the headline so
    # their oracled forms are tracked round-over-round.
    "ext_dedup_simhash",         # md5-lane simhash banding (oracled r8)
    "ext_knn_ivf",               # frozen-quantizer IVF ANN (oracled r8)
    # r15 (VERDICT r14 item 3, additions-only): the heaviest operator in
    # the registry (applyInPandasWithState sessionization) joins the
    # headline so the driver tracks it round-over-round.
    "stream_session_stateful",
]

BENCH_QUERIES = STABLE_QUERIES + TAIL_QUERIES

#: Benched queries whose FIRST pass pays a once-per-(app, corpus) family
#: checkpoint build; their pass-0-minus-floor delta is emitted as the
#: result line's ``staging`` map so the one-time cost is tracked
#: round-over-round instead of hiding inside min-of-passes.
STAGING_QUERIES = [
    "ext_dedup_fuzzy",           # shingle postings + minhash + band pairs
    "ext_dedup_fuzzy_verified",  # candidate postings
    "ext_dedup_simhash",         # simhash_sig (r8)
    "ext_knn_lsh",               # knn bucket table
    "ext_knn_ivf",               # ivf_assign (r8)
    "ext_dedup_embedding_lsh",   # hyperplane buckets + unit vectors
    "ext_boilerplate_ngrams",    # positional 5-gram table (r15)
]


def materialize(df) -> None:
    """Force full computation of every column via the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def calibration_pass(spark) -> float:
    """One timed pass of a FIXED pure-CPU+shuffle workload (no fixture, no
    disk): 20M synthetic rows, xxhash64 keying, a transcendental per row,
    one 1000-key shuffle. Constant across rounds by construction, so the
    emitted floor is a host-speed yardstick: BENCH_rN/BENCH_rM totals can
    be normalized by their calibration ratio instead of a same-host
    worktree A/B (r6 spent a session adjudicating a x1.4 drift this row
    turns into a division)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = (
        spark.range(0, 20_000_000, 1, 32)
        .withColumn("k", F.pmod(F.xxhash64("id"), F.lit(1000)))
        .withColumn("v", F.sin(F.col("id").cast("double")))
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    materialize(df)
    return round(time.perf_counter() - t0, 3)


def calibration_scaling_pass(spark) -> float:
    """One timed pass of a FIXED compute-bound workload whose per-row cost
    is heavy enough that the wall-clock floor SEPARATES by core count
    (r14 verdict item 1 / PERF_r14 ``suspect_cpus_ignored``): the original
    calibration shape is per-task-fixed-cost bound at fixture scale, so its
    floor reads ~flat 8-vs-32 cores and cannot arbitrate whether the bench
    honored ``$SPARK_GRAFT_CPUS``. This shape is ~10 CPU-seconds of chained
    transcendentals over 48M rows in 128 fixed partitions (eight tasks per
    core at 8 cores, four at 32) with a partial-aggregated global sum - no
    shuffle volume, no fixture I/O - so its floor tracks 1/cores until the
    core count, not the per-task overhead, is the binding resource.
    Emitted as ``calibration_scaling`` beside ``cpus_effective``: together
    they make the parallelism contract verifiable from the artifact alone
    (an 8-core run shows cpus_effective 8 AND a ~2.5x scaling floor).
    Sized by measurement: 48M rows of this chain separated only 1.86x
    (0.466 @32 vs 0.867 @8 - per-task overhead still ~0.17 s of the
    floor); 144M rows is ~17 CPU-s, measured 2.5x (min-of-3 floors
    0.894 @32 / 2.241 @8 on the same host, vs 0.88-1.15x ~flat for the
    fixed-cost-bound original shape)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    i = F.col("id").cast("double")
    df = spark.range(0, 144_000_000, 1, 128).select(
        F.sum(
            F.sin(i) + F.cos(i * 0.5) + F.sqrt(F.abs(F.sin(i * 0.25)))
        ).alias("s")
    )
    materialize(df)
    return round(time.perf_counter() - t0, 3)


def calibration_bracket_sample(spark, raw_sink: list[dict]) -> float:
    """min-of-5 calibration at one bracket point (r10 verdict #3): a single
    sample swung 0.561->0.485 between rounds on identical code, making the
    normalized headline un-adjudicable; the same-host A/B protocol already
    uses min-of-5 floors, so the yardstick must too.

    Discarded priming first (r11 verdict #3): the driver's r11 bracket read
    [0.967, 0.454, 0.448, 0.523] even though min-of-5 and a single warmup
    pass were in effect, so JIT/page-cache warmup outlasts 6 passes at
    point 1. Prime until two consecutive discarded passes agree within 20%
    (max 4 priming passes) — once the shape is warm the first pair agrees,
    so later bracket points pay exactly TWO priming passes (prev + first
    cur), not one (r12 ADVICE docstring correction).

    Each raw_sink entry is ``{"priming": [...], "samples": [...],
    "loadavg": [...]}`` (r12 ADVICE; loadavg added r14): the priming
    passes are recorded, not discarded silently, so the runs artifact
    shows whether priming converged or hit the 4-pass cap — the
    visibility the r11 bracket diagnosis relied on — and the OS load
    triple timestamps the host regime at this bracket point. Only
    ``samples`` feed the returned min."""
    priming = [calibration_pass(spark)]
    for _ in range(3):
        priming.append(calibration_pass(spark))
        if priming[-1] <= priming[-2] * 1.2 and priming[-2] <= priming[-1] * 1.2:
            break
    samples = [calibration_pass(spark) for _ in range(5)]
    # 1/5/15-min load averages at this bracket point (r14): the round-14
    # host showed episodic external 2-3x degradations, and a contaminated
    # pass was only attributable by cross-referencing bracket spreads with
    # live observation. Recording the OS load beside each bracket point
    # makes the regime call machine-attributable from the artifact alone
    # (a 1-min load far above the core-count baseline flags the pass).
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        load = []
    raw_sink.append({"priming": priming, "samples": samples, "loadavg": load})
    return min(samples)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = build_session(
        app_name="bee-proof-spark-bench",
        # Keep stdout clean for the driver's line capture: no progress bars.
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    stable = [q for q in STABLE_QUERIES if q in registry]
    tail = [q for q in TAIL_QUERIES if q in registry]
    # Warmup: spin up executors/codegen outside the timed region; the
    # bucketed join also builds its tables here so the timed pass measures
    # the steady-state (shuffle-free) join, not the one-time bucketed write.
    materialize(registry[(stable + tail)[0]].builder(spark, sf_dir))
    if "join_smb_bucketed" in registry:
        materialize(registry["join_smb_bucketed"].builder(spark, sf_dir))

    runs: dict[str, list[float]] = {}
    # Calibration brackets EVERY sweep pass (r7 verdict #3): a sample
    # before pass 1, between passes, and after the adjudication passes.
    # A host stall INSIDE pass 2 (the r7 stream_dedup_state [4.45, 10.31]
    # case) then shows up in that pass's own bracket pair and is
    # machine-attributable from the artifact, no judge microbench needed.
    calib: list[float] = []
    # each entry {"priming": [...], "samples": [...], "loadavg": [...]}
    # per bracket point (r12 ADVICE; annotation corrected r13 ADVICE;
    # loadavg regime stamp added r14)
    calib_samples: list[dict] = []
    calibration_pass(spark)  # codegen/JIT warmup for the calibration shape
    # Core-count yardstick (r15, additive): one warmup then min-of-3 of the
    # compute-bound scaling shape. Taken OUTSIDE the query sweep so it can
    # never perturb a timed pass; ~1-5 s total depending on cores.
    calibration_scaling_pass(spark)
    calib_scaling = [calibration_scaling_pass(spark) for _ in range(3)]

    def one_pass(name: str) -> None:
        t0 = time.perf_counter()
        materialize(registry[name].builder(spark, sf_dir))
        runs.setdefault(name, []).append(round(time.perf_counter() - t0, 3))

    # Pass 1 over everything, then pass 2 over everything — interleaving
    # the second pass after the full sweep (rather than back-to-back per
    # query) so both passes see comparable JVM/page-cache state and a
    # transient stall can't inflate both samples of one query.
    calib.append(calibration_bracket_sample(spark, calib_samples))
    for name in stable + tail:
        one_pass(name)
    calib.append(calibration_bracket_sample(spark, calib_samples))
    for name in stable + tail:
        one_pass(name)
    calib.append(calibration_bracket_sample(spark, calib_samples))
    # Self-tuning third pass: two samples >3x apart means one of them was
    # cold/noisy - a cheap extra sample settles which (min-of-three).
    for name in stable + tail:
        ts = runs[name]
        if max(ts) > 3 * min(ts):
            one_pass(name)
    calib.append(calibration_bracket_sample(spark, calib_samples))

    per_query = {name: min(ts) for name, ts in runs.items()}
    # calibration_pass rounds to 3 decimals, so a sub-0.5ms pass would floor
    # to 0.0 and crash every ratio below after all passes completed (r11
    # ADVICE). Clamp to one rounding unit; a host that fast makes the
    # normalized numbers meaningless-but-finite rather than a lost run.
    calib_floor = max(min(calib), 1e-3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "bench_total_wall_clock",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration": calib_floor,
        # min-of-5 floors at each bracket point (before pass 1 / between
        # passes / after pass 2 / after adjudication) — r10 verdict #3.
        # Host-regime telemetry only: neither the bracket spread nor
        # value_normalized is an actionable regression signal.
        "calibration_bracket": calib,
        "value_normalized": round(sum(per_query.values()) / calib_floor, 2),
        # Parallelism contract, self-verifying from the artifact (r15,
        # additive - r14 verdict item 1 / PERF_r14 suspect_cpus_ignored):
        # the EFFECTIVE core count and master the session actually ran
        # with, plus the floor of a compute-bound shape that scales ~1/cores
        # (calibration_scaling_pass docstring) - an 8-core run must show
        # cpus_effective 8 and a ~4x scaling floor vs 32 cores.
        "cpus_effective": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "calibration_scaling": min(calib_scaling),
        # Whole-run sweep totals, one per pass (r13 verdict #5): the
        # BENCH_r13 tail showed the driver ran an unprimed ~3.5x first
        # bench pass before the recorded line, visible only by parsing the
        # raw tail. runs[0] vs runs[1] shows first-pass-vs-warm directly
        # in the compact line; index >=2 is the adjudication pass and
        # covers only re-run queries, so it is NOT a full-sweep total.
        "runs": [
            round(sum(ts[i] for ts in runs.values() if len(ts) > i), 3)
            for i in range(max(len(ts) for ts in runs.values()))
        ],
        # One-time family-checkpoint staging, tracked as named numbers
        # (r7 verdict #5) instead of hiding inside min-of-passes: pass-0
        # minus the warm floor for every benched query that builds a
        # family stage on its first touch (postings/signature family,
        # knn bucket table, simhash signatures, ivf assignment,
        # embedding-LSH buckets).
        "staging": {
            name: round(runs[name][0] - per_query[name], 3)
            for name in STAGING_QUERIES
            if name in runs
        },
    }
    spark.stop()
    # Raw samples first (own line + optional side file), compact line LAST -
    # the driver's tail capture must always see the full compact line.
    # pass_calibration pairs bracket each sweep pass ([before, after]);
    # query_calibration_ratio is each query's floor divided by the
    # calibration floor - the host-normalized number to compare across
    # rounds.
    runs_line = json.dumps(
        {
            "bench_runs": runs,
            "calibration_runs": calib,
            "calibration_samples": calib_samples,
            "calibration_scaling_samples": calib_scaling,
            "pass_calibration": {
                "pass1": calib[0:2],
                "pass2": calib[1:3],
                "pass3": calib[2:4],
            },
            "query_calibration_ratio": {
                name: round(min(ts) / calib_floor, 2)
                for name, ts in runs.items()
            },
        }
    )
    print(runs_line)
    side = os.environ.get("SPARK_GRAFT_BENCH_RUNS")
    if side:
        with open(side, "w") as fh:
            fh.write(runs_line + "\n")
    sys.stdout.flush()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
