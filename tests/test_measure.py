"""The shared measurement core (pyspark_recs/measure.py) and the bench's
round-over-round comparison (bench.compare_to_prev)."""

from __future__ import annotations

import os
import time
from pathlib import Path

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from bench import compare_to_prev
from pyspark_recs.measure import measure, run_query

REPO = Path(__file__).resolve().parents[1]


def test_measure_calls_thunk_warmups_plus_reps_and_sorts_runs():
    delays = iter([0.05, 0.0, 0.03, 0.01, 0.02])
    calls = []

    def thunk():
        calls.append(1)
        time.sleep(next(delays))

    cold, runs = measure(thunk, 2, 3)
    assert len(calls) == 5
    assert len(runs) == 3 and runs == sorted(runs)
    assert cold >= 0.05  # the first warm-up, not a measured run
    assert runs[0] >= 0.01 and runs[2] >= 0.03

    cold, runs = measure(lambda: None, 0, 1)
    assert runs == [cold]


def test_run_query_forces_every_output_column(spark):
    df = spark.range(5).select(
        "id", F.raise_error(F.lit("pruned by count")).alias("bad")
    )
    assert df.count() == 5  # count() never evaluates the column
    with pytest.raises(SparkRuntimeException, match="pruned by count"):
        run_query(spark, lambda s, sf: df, None)


def test_run_query_checksum_is_partitioning_invariant(spark):
    df = spark.range(1000).select(
        "id",
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("x"), F.col("id").cast("string")).alias("s"),
    )
    one = run_query(spark, lambda s, sf: df.repartition(1), None)
    seven = run_query(spark, lambda s, sf: df.repartition(7), None)
    assert one is not None and one == seven


def test_checksum_driver_has_one_home():
    # Split so this file is not itself a match.
    needle = "xxhash64(" + "struct(*))"
    hits = []
    for dirpath, dirnames, filenames in os.walk(REPO):
        dirnames[:] = [
            d for d in dirnames if d != "perfbench" and not d.startswith(".")
        ]
        for name in filenames:
            if name.endswith(".py"):
                path = Path(dirpath, name)
                n = path.read_text(encoding="utf-8").count(needle)
                if n:
                    hits.append((path.relative_to(REPO).as_posix(), n))
    assert hits == [("pyspark_recs/measure.py", 1)]


BASE = {f"q{i:02d}": 1.0 + 0.1 * i for i in range(12)}


def _run(times, cpus=4, composite=1, sf=0.001):
    return {
        "queries": dict(times),
        "spread": {n: 0.0 for n in times},
        "cpus": cpus,
        "composite": composite,
        "sf": sf,
    }


def test_vs_prev_refuses_composite_mismatch_and_records_protocol():
    vs_prev, skipped = compare_to_prev(_run(BASE, composite=3), _run(BASE))
    assert skipped == "prev run at composite=3, now composite=1"
    assert vs_prev == {
        "protocol": {
            "prev": {"cpus": 4, "composite": 3},
            "now": {"cpus": 4, "composite": 1},
        }
    }


def test_vs_prev_refuses_cpus_mismatch():
    vs_prev, skipped = compare_to_prev(_run(BASE, cpus=32), _run(BASE))
    assert skipped == "prev run at cpus=32, now cpus=4"
    assert "regressions" not in vs_prev


def test_vs_prev_uniform_drift_flags_nothing():
    now = {n: t * 1.25 for n, t in BASE.items()}
    vs_prev, skipped = compare_to_prev(_run(BASE), _run(now))
    assert skipped is None
    assert vs_prev["n_common"] == 12
    assert vs_prev["session_drift"] == 1.25
    assert vs_prev["regressions"] == {}
    assert vs_prev["protocol"]["prev"] == vs_prev["protocol"]["now"]


def test_vs_prev_flags_one_query_beyond_drift():
    now = {n: t * 1.25 for n, t in BASE.items()}
    now["q05"] *= 3
    vs_prev, skipped = compare_to_prev(_run(BASE), _run(now))
    assert skipped is None
    assert vs_prev["session_drift"] == 1.25
    assert list(vs_prev["regressions"]) == ["q05"]
