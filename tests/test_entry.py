"""Driver-contract tests: entry() smoke, queries()/oracle_sql()
consistency, and every query against its DuckDB oracle at sf0.001.
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


# Queries that return at most one row at sf0.001 (r54_nation_trade
# returns none), so the comparison below checks them only weakly at this
# size; the sf0.01 sweep (tools/oracle_check.py) pins their values.
THIN_AT_SMALLEST_SF = {
    "l74_two_tower_align",
    "r15_latest_event",
    "r39_local_supplier_volume",
    "r40_small_order_parts",
    "r54_nation_trade",
    "r69_mann_whitney",
    "r85_forecast_revenue_change",
    "r87_top_supplier",
    "rs04_als_recommendations",
    "rs20_rec_coverage",
    "rs28_content_model_eval",
    "rs30_ensemble_eval",
    "rs32_joint_feature_eval",
    "rs36_exposure_gini",
}


def test_every_query_runs_at_smallest_sf(spark):
    """Every registered query matches its DuckDB oracle twin at sf0.001:
    row count, column names and the order-insensitive value hash, with
    the oracle harness's HUGEINT guard (``tools.oracle_check.compare``).
    A ``count()`` would prune the output columns and pass a query whose
    values are wrong."""
    from tools.oracle_check import compare, oracle_connection

    con = oracle_connection(SF_DIR)
    oracles = entry_mod.oracle_sql()
    failed, thin = {}, set()
    for name, fn in entry_mod.queries().items():
        n_rows, problems = compare(spark, con, SF_DIR, fn, oracles[name])
        if problems:
            failed[name] = problems
        if n_rows <= 1:
            thin.add(name)
    assert failed == {}
    assert thin == THIN_AT_SMALLEST_SF


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
