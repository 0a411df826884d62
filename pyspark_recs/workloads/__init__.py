"""Workload registry: every implemented operator exposed as a named query
over the driver testdata, each with a DuckDB oracle-SQL twin.

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLE[name] -> str``
feed ``__spark_entry__.py`` (the driver correctness contract).

Ordering matters: the driver's correctness gate checks a bounded prefix
of the registry (~50 entries per round). The order is computed at
import by ``priority.rotation`` from the ``CORRECTNESS_r*.json`` files
in the repo root: red rows first, then never-checked queries, then the
oldest driver-verified entries (drift watch). Each round's file pushes
the queries it checked to the back, so the prefix rotates by itself.
"""

from pathlib import Path

from pyspark_recs.workloads import llmops as _llmops
from pyspark_recs.workloads import recsys as _recsys
from pyspark_recs.workloads import relational as _relational
from pyspark_recs.workloads import streaming as _streaming
from pyspark_recs.workloads.priority import rotation

_queries = {}
_oracle = {}
for _mod in (_relational, _llmops, _recsys, _streaming):
    _queries.update(_mod.QUERIES)
    _oracle.update(getattr(_mod, "ORACLE", {}))

_REPO = Path(__file__).resolve().parents[2]
QUERIES = {n: _queries[n] for n in rotation(list(_queries), _REPO)}
ORACLE = {n: _oracle[n] for n in QUERIES if n in _oracle}
