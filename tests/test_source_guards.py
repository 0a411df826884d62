"""Source-level invariants checked by AST scan, without a SparkSession."""

from __future__ import annotations

import ast
import re
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


# Public operators kept without a production caller, each with the reason
# it stays. Every entry must exist and be dead without this list, so the
# list cannot outlive its reasons.
UNCALLED_KEPT = {
    "csv_to_envelope": "S1-S4 ingest: CSV rows to raw envelopes, backed by "
    "the ingest round-trip test",
    "write_raw": "S1-S4 ingest: writes the raw-envelope table",
    "read_raw": "S1-S4 ingest: reads the raw-envelope table back",
    "http_fetcher": "the production fetcher; queries run offline on "
    "fake_http_fetcher, and two tests run this one against a loopback server",
    "attach_progress_log": "the streaming progress log that the batch run "
    "record joins to",
}
ROOT_FILES = ("bench.py", "__spark_entry__.py")
ROOT_DIRS = ("tools", "perfbench")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
IMPORTS = (ast.Import, ast.ImportFrom)


def _references(node):
    """Names used in ``node``'s subtree: Name ids, Attribute attrs, the
    source name of an ``import ... as`` and string constants (perfbench
    wraps functions by name). A plain import is not a use by itself; the
    Name that uses what it binds is."""
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, IMPORTS):
            refs.update(a.name.rsplit(".", 1)[-1] for a in n.names if a.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            refs.add(n.value)
    return refs


def _reexport(node):
    """A package ``__init__``'s imports and its ``__all__`` list name what
    the package exports; neither uses it."""
    return isinstance(node, IMPORTS) or (
        isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
    )


def _operator_graph():
    """(top-level def or class -> names its body uses, root names)."""
    defs, roots = {}, set()
    for path, tree in _modules("pyspark_recs"):
        package_init = path.name == "__init__.py"
        for node in tree.body:
            if isinstance(node, DEFS):
                uses = _references(node) - {node.name}
                defs[node.name] = defs.get(node.name, set()) | uses
            elif not (package_init and _reexport(node)):
                roots |= _references(node)
    for path, tree in _modules(*ROOT_DIRS):
        if "tests" not in path.relative_to(REPO).parts:
            roots |= _references(tree)
    for name in ROOT_FILES:
        roots |= _references(ast.parse((REPO / name).read_text("utf-8")))
    return defs, roots


def _live(defs, roots):
    live, todo = set(), [n for n in defs if n in roots]
    while todo:
        name = todo.pop()
        if name not in live:
            live.add(name)
            todo.extend(n for n in defs[name] if n in defs)
    return live


def test_every_public_operator_has_a_production_caller():
    # A top-level def or class in pyspark_recs/ is live when module-level
    # code (the query registries), a tool, bench.py, the driver entry or
    # perfbench uses it, or a live one does. A public one reached only
    # from tests is dead: wire it into a query or run_flow, or delete it.
    defs, roots = _operator_graph()
    live = _live(defs, roots | set(UNCALLED_KEPT))
    assert live, "the scan found no live operator; it is not looking"
    dead = sorted(n for n in set(defs) - live if not n.startswith("_"))
    assert dead == []
    assert sorted(set(UNCALLED_KEPT) - set(defs)) == []
    called = sorted(set(UNCALLED_KEPT) & _live(defs, roots))
    assert called == [], "allow-listed names that have a caller now"


def _top_level_names(tree):
    names = set()
    for node in tree.body:
        if isinstance(node, DEFS):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
    return names


def test_coverage_citations_resolve():
    # COVERAGE.md backs each claim with a `path.py:symbol` in the package
    # and with test names; a citation that stops resolving (a rename, a
    # deletion) leaves a claim that nothing backs.
    text = (REPO / "COVERAGE.md").read_text(encoding="utf-8")
    symbols = set(re.findall(r"`([\w/]+\.py):(\w+)", text))
    stale = []
    for rel, name in sorted(symbols):
        if rel.rsplit("/", 1)[-1].startswith("test_"):
            continue  # a test citation; checked by name below
        path = REPO / "pyspark_recs" / rel
        tree = ast.parse(path.read_text("utf-8")) if path.exists() else None
        if tree is None or name not in _top_level_names(tree):
            stale.append(f"{rel}:{name}")
    tests = set()
    for path, tree in _modules("tests", "perfbench/tests"):
        tests.add(path.stem)
        tests |= {
            n.name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name.startswith("test_")
        }
    cited = set(re.findall(r"\btest_\w+", text))
    assert symbols and cited, "the scan found no citation; it is not looking"
    assert stale == []
    assert sorted(cited - tests) == []
