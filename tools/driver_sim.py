"""Simulate the driver's t2 correctness gate EXACTLY: the first N
registry entries in PREFIX ORDER (not alphabetical — shared-plan
artifacts materialize under whichever query touches them first, so
order is part of what's being tested) in a DEFAULT-CONF session (no
pyspark_recs.get_spark tuning; the driver builds its own session).

tools/oracle_check.py verifies all queries but sorted and under our
tuned confs; this catches what it can't: inter-query cache
interactions in driver order, conf-sensitivity (the round-6 trainer
pinning came from exactly this gap), and per-query wall-times as the
driver will see them.

Usage: python tools/driver_sim.py [n_prefix] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.oracle_check import compare, oracle_connection  # noqa: E402


def main() -> int:
    n_prefix = int(sys.argv[1]) if len(sys.argv) > 1 else 55
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        # the one conf we grant the harness: a workable heap (Spark's
        # 1g default with 32 in-process executor threads measures GC,
        # not queries)
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )

    import __spark_entry__ as e

    con = oracle_connection(sf)

    qs, oracles = e.queries(), e.oracle_sql()
    names = list(qs)[:n_prefix]
    n_fail = 0
    t_total = time.time()
    for name in names:
        t0 = time.time()
        _, problems = compare(spark, con, sf, qs[name], oracles[name])
        if problems:
            n_fail += 1
            print(f"ERR {name}: {'; '.join(problems)[:160]}", flush=True)
        print(
            f"{'FAIL' if problems else 'PASS'} {name} "
            f"({time.time() - t0:.1f}s)",
            flush=True,
        )
    print(
        f"done: {len(names) - n_fail} pass, {n_fail} fail "
        f"({time.time() - t_total:.0f}s total)"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
