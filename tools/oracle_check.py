"""Local mirror of the driver's t2 correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin in
DuckDB at a given scale factor, compares row count, column-name set, and
an order-insensitive value hash (columns sorted by name, rows sorted).
``compare`` is that step for one query; ``tools/driver_sim.py`` and the
sf0.001 test in ``tests/test_entry.py`` call it too.

Usage: python tools/oracle_check.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return json.dumps(
            {k: canon_value(x) for k, x in sorted(v.items())}, sort_keys=True
        )
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted(
        "\x01".join(canon_value(row[i]) for i in order) for row in rows
    )
    return sorted_cols, lines


def value_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def compare(spark, con, sf_dir: str, fn, oracle: str | None):
    """Run one query in Spark and its oracle twin on ``con``.

    Returns ``(spark row count, problems)``; an empty problem list is a
    pass. With no oracle only the Spark run is checked."""
    try:
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = list(sdf.columns)
    except Exception as ex:
        return 0, [f"spark error: {ex}"]
    if oracle is None:
        return len(srows), []
    try:
        # Arrow-schema guard BEFORE fetching values: DuckDB sum() on
        # BIGINT yields HUGEINT -> arrow decimal128(38,0). fetchall()
        # converts hugeint to plain int so the value hash can't see it,
        # but a harness fetching via arrow/pandas renders it 350000.0 vs
        # Spark's 350000 — the round-5 rs31 driver red row. Any uncast
        # hugeint output is therefore a FAIL even when values match.
        # Materialize ONCE (CTAS preserves HUGEINT typing); both the
        # guard and the value fetch then scan the temp table instead of
        # re-running the query.
        con.execute("CREATE OR REPLACE TEMP TABLE __oracle_out AS " + oracle)
        atypes = con.execute(
            "SELECT * FROM __oracle_out LIMIT 0"
        ).fetch_arrow_table().schema
        huge = [f.name for f in atypes if str(f.type) == "decimal128(38, 0)"]
        if huge:
            return len(srows), [
                f"oracle emits HUGEINT column(s) {huge} "
                "(arrow decimal128(38,0)) — add CAST(... AS BIGINT)"
            ]
        res = con.execute("SELECT * FROM __oracle_out")
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as ex:
        return len(srows), [f"duckdb error: {ex}"]
    sc, sl = canon_rows(scols, srows)
    dc, dl = canon_rows(dcols, drows)
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount {len(srows)} vs {len(drows)}")
    if sc != dc:
        problems.append(f"schema {sc} vs {dc}")
    elif value_hash(sl) != value_hash(dl):
        diff_s = [x for x in sl if x not in set(dl)][:3]
        diff_d = [x for x in dl if x not in set(sl)][:3]
        problems.append(f"hash mismatch; spark-only={diff_s} duck-only={diff_d}")
    return len(srows), problems


def main(argv=None) -> int:
    import sys as _sys
    argv = list(_sys.argv) if argv is None else ["oracle_check", *argv]
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.01"
    only = set(argv[2:])

    import __spark_entry__ as e
    from pyspark_recs.session import get_spark

    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = n_skip = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        n_rows, problems = compare(spark, con, sf_dir, fn, oracles.get(name))
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name} ({dt:.1f}s): " + "; ".join(problems))
            n_fail += 1
        elif name not in oracles:
            print(f"SKIP {name}: no oracle ({n_rows} rows, rows-only check)")
            n_skip += 1
        else:
            print(f"PASS {name} ({dt:.1f}s, {n_rows} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
