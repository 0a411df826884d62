"""In-session bench-protocol probe for A/B decisions: for each named
query, run the EXACT bench measurement (``pyspark_recs.measure``:
checksum driver, 2 warm-ups, then N measured runs) in one shared
session and print all run times, sorted — so a code A/B compares the
same protocol bench.py uses, with enough reps to see the spread.

Usage: python tools/probe_bench.py [sf_dir] [n_runs] <query> [...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    names = sys.argv[3:]

    from pyspark_recs.measure import measure, run_query
    from pyspark_recs.session import get_spark
    from pyspark_recs.workloads import QUERIES

    spark = get_spark("probe-bench")
    spark.range(1000).selectExpr("sum(id)").collect()

    for name in names:
        _, runs = measure(lambda: run_query(spark, QUERIES[name], sf), 2, n)
        runs = [round(r, 3) for r in runs]
        med = runs[len(runs) // 2]
        print(
            "PROBE "
            + json.dumps({"query": name, "median": med, "runs": runs}),
            flush=True,
        )
    from pyspark_recs.workloads.common import unpersist_shared

    unpersist_shared(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
