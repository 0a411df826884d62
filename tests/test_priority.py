"""The driver's correctness rotation is computed at import from the
CORRECTNESS_r*.json files in the repo root; these pin the registry order
to that computation and the computation to its tiers."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import __spark_entry__ as entry_mod

from pyspark_recs.workloads import ORACLE, QUERIES
from pyspark_recs.workloads import llmops, recsys, relational, streaming
from pyspark_recs.workloads.priority import rotation

REPO = Path(__file__).resolve().parents[1]
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {**GREEN, "hash_match": False}


def _source_order():
    return [n for m in (relational, llmops, recsys, streaming) for n in m.QUERIES]


def _write(root, rnd, rows):
    path = Path(root) / f"CORRECTNESS_r{rnd:02d}.json"
    path.write_text(json.dumps(rows), encoding="utf-8")


def test_committed_priority_matches_derivation():
    # The registry order is the rotation over the committed files, with
    # no bound on rounds: a file that lands takes effect at next import.
    assert list(QUERIES) == rotation(_source_order(), REPO)


def test_registry_prefix_follows_priority():
    # The driver iterates queries() in insertion order and checks a
    # bounded prefix; that order IS the rotation, and every entry has
    # its oracle twin.
    assert list(entry_mod.queries()) == list(QUERIES)
    assert set(entry_mod.oracle_sql()) == set(ORACLE) == set(QUERIES)


def test_priority_is_complete_and_duplicate_free():
    # A name registered by two modules would shadow one query.
    names = _source_order()
    assert len(names) == len(set(names))
    assert set(QUERIES) == set(names)


def test_committed_correctness_files_name_registered_queries():
    files = sorted(REPO.glob("CORRECTNESS_r*.json"))
    assert files
    for path in files:
        rows = json.loads(path.read_text(encoding="utf-8"))
        unknown = [n for n in rows if n not in QUERIES]
        assert unknown == [], path.name


def test_tier_order_red_and_never_checked_first(tmp_path):
    names = ["a", "b", "c", "d", "e", "f"]
    _write(tmp_path, 1, {"b": GREEN, "e": RED, "c": GREEN})
    _write(tmp_path, 2, {"d": RED, "c": RED, "e": GREEN})
    # red at the newest row (oldest first), never checked (source order),
    # then green (oldest first): an older red row does not count
    assert rotation(names, tmp_path) == ["d", "c", "a", "f", "b", "e"]


def test_no_files_keeps_source_order(tmp_path):
    assert rotation(["z", "y", "x"], tmp_path) == ["z", "y", "x"]


def test_drift_watch_is_oldest_first(tmp_path):
    names = ["a", "b", "c", "d", "e"]
    _write(tmp_path, 3, {"a": GREEN, "e": GREEN})
    _write(tmp_path, 1, {"d": GREEN, "b": GREEN, "c": GREEN})
    _write(tmp_path, 2, {"b": GREEN})
    (tmp_path / "CORRECTNESS_r02_c8.json").write_text("not a round file")
    # ties within a round keep that file's row order; a query's newest
    # row is the one that counts, whatever the glob order
    assert rotation(names, tmp_path) == ["d", "c", "b", "a", "e"]


def test_new_correctness_file_rotates_the_prefix(tmp_path):
    # Dropping the next round's file in is the only step.
    for path in REPO.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, tmp_path)
    names = _source_order()
    old = rotation(names, tmp_path)[:50]
    stems = [p.stem.removeprefix("CORRECTNESS_r") for p in tmp_path.iterdir()]
    last = max(int(s) for s in stems if s.isdigit())
    _write(tmp_path, last + 1, {n: GREEN for n in old})
    new = rotation(names, tmp_path)[:50]
    assert len(new) == 50
    assert set(new).isdisjoint(old)
