"""Driver-contract tests: entry() smoke, queries()/oracle_sql()
consistency, and a fast oracle spot-check at sf0.001.
"""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entry_mod

from tests.conftest import SF_DIR


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) > 0


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 45
    # Round 4: every registered query has an oracle twin (l12 via
    # deterministic md5 hyperplanes, rs04 via r50-style brackets).
    assert {k for k in qs if k not in oracles} == set()


def test_every_query_runs_at_smallest_sf(spark):
    """Every registered query must at least build+execute at sf0.001."""
    skip_heavy = set()  # all are cheap at sf0.001
    for name, fn in entry_mod.queries().items():
        if name in skip_heavy:
            continue
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_loader_normalizes_all_timestamps(spark):
    # The driver testdata's physical timestamp encoding has changed
    # across rounds (TIMESTAMP(NANOS) -> TIMESTAMP(MICROS) NTZ, which
    # broke round 2's bench). Whatever the parquet footer says, every
    # timestamp-like column must surface as plain TimestampType so
    # unix_micros()/interval arithmetic works.
    import os

    from pyspark.sql.types import TimestampNTZType, TimestampType

    from pyspark_recs.io import load_table
    from pyspark_recs.io.loaders import TABLES

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.isdir(sf):
            continue
        for name in TABLES:
            df = load_table(spark, sf, name)
            for f in df.schema.fields:
                assert not isinstance(f.dataType, TimestampNTZType), (
                    f"{sf}/{name}.{f.name} leaked TIMESTAMP_NTZ"
                )
            if name == "events":
                ts_type = dict(df.dtypes)["ts"]
                assert ts_type == "timestamp"
                assert isinstance(
                    df.schema["ts"].dataType, TimestampType
                )


def test_priority_rotation_names_all_resolve(tmp_path):
    # The rotation comes from the CORRECTNESS files at import: every
    # registered query keeps exactly one slot (a double slot skews the
    # bounded verification window), and a row naming a query that is no
    # longer registered takes none.
    from pyspark_recs.workloads import llmops, recsys, relational, streaming
    from pyspark_recs.workloads.priority import rotation

    names = [n for m in (relational, llmops, recsys, streaming) for n in m.QUERIES]
    repo = Path(__file__).resolve().parents[1]
    order = rotation(names, repo)
    assert len(order) == len(set(order))
    assert set(order) == set(names) == set(entry_mod.queries())
    row = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"no_such_query": row, names[-1]: row}), encoding="utf-8"
    )
    assert rotation(names, tmp_path) == [names[-1]] + names[:-1]


def test_bench_headline_names_resolve_and_unique():
    # A typo in bench.py's HEADLINE list would crash the driver's
    # per-round benchmark (KeyError mid-run) — so every name must
    # resolve and appear once.
    import bench

    qs = entry_mod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert missing == []
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_sql_catalog_matches_dataframe_api(spark):
    # register_tables exposes the engine to plain spark.sql; results
    # must match the DataFrame API bit for bit (same timestamp
    # normalization path).
    from pyspark.sql import functions as F

    from pyspark_recs.io import load_table, register_tables

    register_tables(spark, SF_DIR)
    sql_rows = spark.sql(
        "SELECT o_custkey, count(*) AS n FROM orders "
        "GROUP BY o_custkey ORDER BY o_custkey"
    ).collect()
    df_rows = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_custkey")
        .collect()
    )
    assert sql_rows == df_rows
    # events.ts must arrive as plain TIMESTAMP through SQL too
    t = spark.sql("SELECT unix_micros(ts) AS u FROM events LIMIT 1").collect()
    assert isinstance(t[0].u, int)
