"""The one measurement protocol shared by bench.py and every timing
tool under tools/.

Execution driver: a ``bit_xor`` over a per-row ``xxhash64`` of every
output column, NOT ``count()`` — count() lets Catalyst prune
projections and even whole Window operators (verified via explain),
which under-measures expression-heavy queries. The checksum forces
every output column to be computed while returning one row (no collect
cost), and bit_xor is order-insensitive, so the value is invariant to
partitioning.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import functions as F


def run_query(spark, fn, sf) -> int | None:
    """Build ``fn(spark, sf)``, execute it to completion and return its
    full-row checksum (None for an empty result)."""
    df = fn(spark, sf)
    row = df.select(
        F.expr("bit_xor(xxhash64(struct(*)))").alias("checksum")
    ).collect()[0]
    return row.checksum


def measure(
    thunk: Callable[[], object], warmups: int, reps: int
) -> tuple[float, list[float]]:
    """Call ``thunk`` ``warmups`` times, then ``reps`` measured times.

    Returns ``(cold, runs)``: the wall time of the FIRST call (the
    first warm-up, or the first measured run when ``warmups == 0``) and
    the sorted wall times of the ``reps`` measured calls. Engine-
    agnostic: the thunk may run Spark, DuckDB or anything else."""
    times = []
    for _ in range(warmups + reps):
        t0 = time.perf_counter()
        thunk()
        times.append(time.perf_counter() - t0)
    return times[0], sorted(times[warmups:])
