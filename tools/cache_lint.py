"""Registry-wide cache-teardown lint: run EVERY registry query once
through the bench's checksum driver, then check two things.

1. Anonymous CacheManager entries. After unpersisting only the frames
   ``shared_plan`` returned, the CacheManager must be EMPTY. Anything
   left is a ``.cache()``/``.persist()`` that outlived its query; the
   CacheManager matches entries by plan equality, so the next identical
   build would be served from this run's blocks (the rs11 class). A
   frame an operator materializes for its caller must be a
   ``workloads.common.snapshot_plan`` (a localCheckpoint the
   CacheManager never matches); a cache used only inside one function
   is a ``workloads.common.held`` block, released when the block
   exits.
2. Leaked RDDs. After ``unpersist_shared``, zero persisted RDDs may
   remain in the JVM (the round-9 r89 leak, caught by review only):
   RDD-level storage an operator keeps must be registered by id with
   ``workloads.common.register_persisted``.

A query failing either check fails the lint: ``ANON`` for the first,
``LEAK`` (with the offending RDD names) for the second.

Unlike tools/driver_sim.py (which deliberately keeps shared caches warm
across queries, as the real driver does), this sweep tears down after
EVERY query — shared plans rebuild each time, so run it at sf0.001
where rebuilds are cheap.

Usage: python tools/cache_lint.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import contextlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@contextlib.contextmanager
def recorded_shared_plans():
    """Wrap ``shared_plan`` in every loaded ``pyspark_recs`` module that
    holds it and yield the list of frames it returns while active."""
    from pyspark_recs.workloads import common

    orig = common.shared_plan
    returned: list = []

    def recording(*args, **kwargs):
        df = orig(*args, **kwargs)
        returned.append(df)
        return df

    holders = [
        m
        for m in list(sys.modules.values())
        if getattr(m, "__name__", "").startswith("pyspark_recs")
        and getattr(m, "shared_plan", None) is orig
    ]
    for m in holders:
        m.shared_plan = recording
    try:
        yield returned
    finally:
        for m in holders:
            m.shared_plan = orig


def lint_query(spark, fn, sf) -> tuple[bool, list]:
    """Run ``fn`` once (``measure.run_query``), unpersist only the frames
    ``shared_plan`` returned, then tear the session down. Returns
    ``(anonymous, leaked)``: whether the CacheManager still held an
    entry before teardown, and the ``(id, description)`` of every
    persisted RDD left after ``unpersist_shared``."""
    from pyspark_recs.measure import run_query
    from pyspark_recs.workloads.common import (
        persistent_rdd_snapshot,
        unpersist_shared,
    )

    with recorded_shared_plans() as shared:
        run_query(spark, fn, sf)
    for df in shared:
        df.unpersist()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    anonymous = not cache_manager.isEmpty()
    unpersist_shared(spark)
    return anonymous, persistent_rdd_snapshot(spark)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:] or None

    from pyspark.sql import SparkSession

    from pyspark_recs.workloads.common import (
        release_all_persistent,
        unpersist_shared,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    names = list(qs)
    if only is not None:
        unknown = sorted(set(only) - set(names))
        if unknown:
            raise SystemExit(f"unknown query names: {', '.join(unknown)}")
        names = [n for n in names if n in set(only)]

    # Baseline must be clean (a dirty session would blame query 1).
    unpersist_shared(spark)
    release_all_persistent(spark)

    bad: list[str] = []
    t_total = time.time()
    for name in names:
        t0 = time.time()
        err = None
        try:
            anonymous, left = lint_query(spark, qs[name], sf)
        except Exception as ex:  # run errors are the oracle gate's job
            err = str(ex)[:160]
            anonymous, left = False, []
        if anonymous or left:
            bad.append(name)
        unpersist_shared(spark)
        release_all_persistent(spark)  # isolate the next query
        tags = [t for t, on in (("ANON", anonymous), ("LEAK", left)) if on]
        tag = "+".join(tags) or ("ERR " if err else "CLEAN")
        extra = (
            " :: " + "; ".join(d for _, d in left) if left
            else (f" :: {err}" if err else "")
        )
        print(f"{tag} {name} ({time.time() - t0:.1f}s){extra}", flush=True)

    print(
        f"done: {len(names) - len(bad)} clean, {len(bad)} failing "
        f"({time.time() - t_total:.0f}s total)"
    )
    if bad:
        print("failing queries:", ", ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
