"""Pre-round verification sweep: every registered query vs its DuckDB oracle
in a DRIVER-LIKE session (Spark 4 defaults: ANSI ON, no engine profile).

This replicates the external t2 correctness gate for every registered id
at sf0.01 (that gate itself caps at ~50/round), and is the discipline that
keeps the CORRECTNESS ledger green: run it fresh-process before ending a
round.

Usage:
    python tools/sweep.py [sf_dir]      # default /root/testdata/sf0.01
    python tools/sweep.py --force-gates [sf_dir]

``--force-gates`` runs the loop inside ``bee_proof_spark.testing.forced_gates()``,
which sets every size gate in ``FORCED_GATES`` to its at-scale value in this
process, so each gated operator's OVER-gate plan (the shape a 100 TB corpus
would take: banded ranking, q4 probe pre-dedup, disk-staged dedup-family
intermediates, banded pack prefix-sum, parquet stream sink, multi-tile
embedding join, non-fixture LSH plane count) is hash-verified against the
same DuckDB oracles at fixture scale - not just property-tested for plan
shape (VERDICT r5 #2).
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--force-gates"]
    force = "--force-gates" in sys.argv[1:]
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
    from bee_proof_spark.testing import FORCED_GATES, compare_to_oracle, forced_gates

    if force:
        print("FORCED GATES:", " ".join(f"{m}.{a}={v}" for m, a, v in FORCED_GATES))
    reg = load_all()
    fails: list[str] = []
    t0 = time.time()
    with forced_gates() if force else contextlib.nullcontext():
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
