"""3-run protocol for the warm >2 s tail and the cold-materialization
cluster (VERDICT r8 items #4/#5): each query runs in its OWN fresh
subprocess session — one cold pass (first materialization, artifact
loads included), then three warm passes, each executed by
``pyspark_recs.measure``'s checksum driver; prints one JSON line per
query (warm times sorted) and a summary table for SCALING.md.

Usage: python tools/tail_runs.py [sf_dir] [query ...]
Defaults to the round-8 flagged set.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT = [
    # warm drifters flagged round 8 (re-pin the noise band)
    "r69_mann_whitney",
    "l43_semantic_dedup",
    "rs16_personalized_pagerank",
    "l44_embedding_covariance",
    "s11_peak_concurrency",
    # cold-materialization cluster (now artifact-routed — cold should
    # collapse toward the warm number)
    "l66_attribution_union",
    "rs05_item_cooccurrence",
    "rs15_association_rules",
    "rs30_ensemble_eval",
]

_CHILD = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark_recs.measure import measure, run_query
from pyspark_recs.session import get_spark
from pyspark_recs.workloads import QUERIES

name, sf = {name!r}, {sf!r}
spark = get_spark("tail-" + name)
cold, warm = measure(lambda: run_query(spark, QUERIES[name], sf), 1, 3)
print("RESULT " + json.dumps(
    {{"query": name, "cold": round(cold, 3),
      "warm": [round(w, 3) for w in warm]}}))
"""


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT
    rows = []
    for name in names:
        code = _CHILD.format(repo=REPO, name=name, sf=sf)
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True, text=True, timeout=900,
        )
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("RESULT ")]
        if not line:
            print(f"FAIL {name}: {out.stderr[-400:]}")
            continue
        r = json.loads(line[0][7:])
        rows.append(r)
        print(json.dumps(r), flush=True)
    print("\n| query | cold s | warm s (3 runs) |")
    print("|---|---|---|")
    for r in rows:
        print(f"| {r['query']} | {r['cold']} | "
              f"{', '.join(str(w) for w in r['warm'])} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
