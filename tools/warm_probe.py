"""Warm-floor probe runner: the measurement harness behind SCALE.md's
decade tables. Runs a registered query against a fixture dir N times
(noop sink - full execution, zero result materialization) and reports
min-of-warm-passes, the repo's floor discipline (pass 0 pays family
checkpoints and page cache; min-of-2+ absorbs single-pass host noise,
which measures 30%+ day-over-day on this box - see SCALE.md "host
drift": only same-host interleaved A/Bs are comparable).

Usage:
    python tools/warm_probe.py <sf_dir> <qid> [qid ...]

Env: SPARK_GRAFT_DRIVER_MEM (set 48g for >=100x fixtures). Between
passes the driver GCs so the ContextCleaner drops the previous pass's
shuffle files - three passes of a large probe otherwise accumulate 30+ GB
in /tmp/blockmgr-* (and a killed probe LEAVES those dirs: rm -rf
/tmp/blockmgr-* /tmp/spark-* before relaunching).
"""
import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PASSES = 3


def main() -> None:
    sf, qids = sys.argv[1], sys.argv[2:]
    from bee_proof_spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    from bee_proof_spark.queries import load_all

    reg = load_all()
    for qid in qids:
        ts = []
        for _ in range(PASSES):
            t0 = time.time()
            reg[qid].builder(spark, sf).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.time() - t0)
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(3)
        print(
            f"PROBE {sf} {qid} warm={min(ts[1:]):.2f} "
            f"passes={[round(t, 2) for t in ts]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
