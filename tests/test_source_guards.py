"""Source-level invariants checked by AST scan, without a SparkSession."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
MATERIALIZING = {"cache", "persist", "localCheckpoint"}


def _modules(*dirs):
    for d in dirs:
        for path in sorted((REPO / d).rglob("*.py")):
            yield path, ast.parse(path.read_text(encoding="utf-8"))


def test_materialization_calls_live_in_workloads_common():
    # Every cache, persist and localCheckpoint goes through one of the
    # workloads.common primitives (shared_plan, snapshot_plan, held), so
    # each materialization's lifetime is declared in one place.
    hits = []
    for path, tree in _modules("pyspark_recs"):
        rel = path.relative_to(REPO).as_posix()
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MATERIALIZING
            ):
                hits.append((rel, node.lineno, node.func.attr))
    outside = [h for h in hits if h[0] != "pyspark_recs/workloads/common.py"]
    assert outside == []
    assert hits, "the scan found no call at all; it is not looking"


def test_no_module_defines_a_top_level_name_twice():
    # A second top-level def of the same name silently replaces the first
    # at import, leaving dead code that reads as live.
    dupes = {}
    for path, tree in _modules("pyspark_recs", "tools"):
        names = Counter(
            node.name
            for node in tree.body
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
        )
        twice = sorted(n for n, c in names.items() if c > 1)
        if twice:
            dupes[path.relative_to(REPO).as_posix()] = twice
    assert dupes == {}


KNOBS = {
    "SPARK_GRAFT_ARTIFACTS",
    "SPARK_GRAFT_SNAPSHOT",
    "SPARK_GRAFT_SNAPSHOT_DIR",
    "SPARK_GRAFT_STREAM_TMPDIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_MASTER",
}


def _env_key(node):
    """The key node of an ``os.environ.get(k)``, ``os.environ[k]`` or
    ``os.getenv(k)`` read, else None (any alias of ``os`` counts)."""

    def is_environ(n):
        return (isinstance(n, ast.Attribute) and n.attr == "environ") or (
            isinstance(n, ast.Name) and n.id == "environ"
        )

    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        f = node.func
        if (f.attr == "get" and is_environ(f.value)) or f.attr == "getenv":
            return node.args[0] if node.args else node
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.ctx, ast.Load)
        and is_environ(node.value)
    ):
        return node.slice
    return None


def test_environment_knobs_are_the_pinned_set():
    # Every environment variable the package reads is listed above, so a
    # new knob shows up as an edit to this test.
    names, dynamic = set(), []
    for path, tree in _modules("pyspark_recs"):
        for node in ast.walk(tree):
            key = _env_key(node)
            if key is None:
                continue
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                names.add(key.value)
            else:
                dynamic.append((path.relative_to(REPO).as_posix(), node.lineno))
    assert dynamic == []
    assert names, "the scan found no read at all; it is not looking"
    assert names == KNOBS
