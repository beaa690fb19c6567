"""Pre-round verification sweep: every registered query vs its DuckDB oracle
in a DRIVER-LIKE session (Spark 4 defaults: ANSI ON, no engine profile).

This replicates the external t2 correctness gate for every registered id
at sf0.01 (that gate itself caps at ~50/round), and is the discipline that
keeps the CORRECTNESS ledger green: run it fresh-process before ending a
round.

Usage:
    python tools/sweep.py [sf_dir]      # default /root/testdata/sf0.01
    python tools/sweep.py --force-gates [sf_dir]

``--force-gates`` zeroes every size gate BEFORE the query modules import,
so each gated operator's OVER-gate plan (the shape a 100 TB corpus would
take: banded ranking, q4 probe pre-dedup, disk-staged dedup-family
intermediates, banded pack prefix-sum, parquet stream sink, multi-tile
embedding join) is hash-verified against the same DuckDB oracles at
fixture scale - not just property-tested for plan shape (VERDICT r5 #2).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: name -> forced value: every size-gated alternate plan flips to its
#: at-scale path. Must be applied before bee_proof_spark.queries imports
#: (the gate constants read env at module import).
FORCED_GATES = {
    "SPARK_GRAFT_BANDED_RANK_BYTES": "0",  # windows.py banded ranking
    "SPARK_GRAFT_Q4_PROBE_BYTES": "0",  # tpch.py q4 probe pre-dedup
    "SPARK_GRAFT_PACK_BAND_BYTES": "0",  # extensions.py banded prefix sum
    "BEE_PROOF_FAMILY_DISK_BYTES": "0",  # extensions.py disk-staged family
    "BEE_PROOF_EMB_DISK_BYTES": "0",  # extensions.py disk-staged emb family
    "SPARK_GRAFT_PARQUET_SINK_ROWS": "1",  # replay.py parquet stream sink
    "SPARK_GRAFT_EMB_TILE": "64",  # extensions.py multi-tile pair join
    # Non-default plane count: the generated oracle reads the same override,
    # so the PARAMETERIZED hyperplane bucket math (the shape an adaptive-P
    # scale run takes) is hash-verified, not just the fixture-P constant.
    "SPARK_GRAFT_EMB_LSH_PLANES": "13",
}


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--force-gates"]
    if "--force-gates" in sys.argv[1:]:
        os.environ.update(FORCED_GATES)
        print("FORCED GATES:", " ".join(f"{k}={v}" for k, v in FORCED_GATES.items()))
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    # Deliberately NOT build_session: the driver runs its own session with
    # Spark 4 defaults (ANSI on), and every query must pass under both.
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bee_proof_spark.queries import load_all
    from bee_proof_spark.testing import compare_to_oracle

    reg = load_all()
    fails: list[str] = []
    t0 = time.time()
    for qid in sorted(reg):
        try:
            ok, msg = compare_to_oracle(spark, reg[qid], sf)
        except Exception as ex:  # a crash is a failure, not an abort
            ok, msg = False, f"[{qid}] EXC: {ex}"
        if not ok:
            fails.append(msg)
            print("FAIL", msg[:300], flush=True)
    print(f"DONE {len(reg) - len(fails)}/{len(reg)} pass in {time.time() - t0:.0f}s")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
