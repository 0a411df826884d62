"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests -q   # + two Spark runs, ~3 min

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, covered, self_time  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(root, seed):
    hm = gen.write_inputs(str(root), seed, "hm")
    corpus = gen.write_inputs(str(root), seed, "corpus")
    paths = sorted(hm["hm"].values()) + [corpus["corpus"], corpus["planted_dups"]]
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def test_generators_same_seed_same_bytes(tmp_path):
    assert _bytes(tmp_path / "a", 7) == _bytes(tmp_path / "b", 7)


def test_generators_other_seed_other_bytes(tmp_path):
    a, b = _bytes(tmp_path / "a", 7), _bytes(tmp_path / "b", 8)
    assert all(x != y for x, y in zip(a, b))


def test_generated_properties_are_present():
    _, props = gen.hm_tables(3, gen.HM_SIZE)
    assert 0.02 < props["exact_duplicate_tx_share"] < 0.04
    assert props["tx_before_2020-09-08_share"] > 0.5
    assert props["tx_2020-09-08_to_15_share"] > 0.1
    assert props["tx_after_2020-09-15_share"] > 0.1
    assert props["top1pct_customer_tx_share"] > 0.1  # power-law activity
    assert 0 < props["old_batch_row_share"] < 0.5
    _, cprops, planted = gen.corpus_table(3, gen.CORPUS_SIZE)
    assert 30 <= cprops["mean_tokens"] <= 100
    assert cprops["stopword_share"] >= 0.05
    assert len(planted) > 0


def test_corpus_generator_ends_for_every_seed():
    """Duplicates pick an earlier original; seeds whose first documents
    are not eligible originals must still finish."""
    for seed in range(40):
        _, props, planted = gen.corpus_table(seed, gen.CorpusSize(docs=40, vocab=200))
        assert 0 <= props["planted_neardup_share"] < 0.5


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(1, 3), (4, 6)], 0, 10) == 4
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(3, 3), (6, 4)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    parent = Span(1, "p", None, 0.0, 10.0)
    kids = [Span(2, "a", 1, 1.0, 4.0), Span(3, "b", 1, 3.0, 6.0), Span(4, "c", 1, 8.0, 12.0)]
    # children cover [1, 6] and [8, 10] inside the parent: 7 of 10 s
    assert self_time(parent, kids) == pytest.approx(3.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_benchmark_json_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "job_s", "quality", "peak_rss_mb"}
    suffix_unit = {"_s": "s", "_ms": "ms", "_mb": "MB"}
    for m in bench["per_layer"]:
        unit = next((u for sfx, u in suffix_unit.items() if m["name"].endswith(sfx)), "count")
        assert m["unit"] == unit, m


def _run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1")
def test_smoke_traced_recsys_flow():
    out = _run("recsys_flow", 1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = [m["name"] for m in json.load(fh)["per_layer"]]
    assert list(out["metrics"]) == per_layer
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["model.train_als_jobs"] > 0 and m["io.load_table_calls"] == 0


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1")
def test_smoke_corpus_prep():
    out = _run("corpus_prep", 0)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {"setup_s", "job_s", "quality", "peak_rss_mb"}
    assert 0 < out["metrics"]["quality"]["value"] <= 1


def test_bare_directory_fails_without_a_result(tmp_path):
    """With only the benchmark's files present, the command exits non-zero
    and prints no result line."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "recsys_flow", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
