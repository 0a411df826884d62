"""One benchmark run inside a fresh Python process (and its JVM).

Started by ``run.py``; never run by hand. Measures set-up from process
start, runs one workload's job phase, checks its outputs and writes a
JSON result file. With ``--trace 1`` it also records spans around the
calls into each layer (see ``spans.py``) and reports per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from contextlib import nullcontext

def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--inputs", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--lookups", type=int, default=0)
    p.add_argument("--sweep-sf", default="")
    p.add_argument("--sweep", default="")
    return p.parse_args(argv)


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """State of one run: the session, inputs, timings and counters."""

    def __init__(self, args):
        self.args = args
        self.timings: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: list[str] = []  # failed correctness checks
        self.extra: dict = {}
        self.layer: dict[str, float] = {}
        self.quality = None
        self.tracer = None

    def begin_job(self):
        self.window = [time.time(), None]
        if self.tracer:
            self.py4j_window = [self.tracer.py4j.calls, None]

    def end_job(self):
        """Close the job phase: ``job_s`` and, at its end, ``peak_rss_mb``."""
        self.window[1] = time.time()
        self.timings["job_s"] = self.window[1] - self.window[0]
        if self.tracer:
            self.py4j_window[1] = self.tracer.py4j.calls
        self.timings["peak_rss_mb"] = peak_rss(self)

    def check(self, ok: bool, what: str):
        if not ok:
            self.checks.append(what)

    def op(self, name: str, fn, *a, **k):
        """Run one counted operation; a failure is recorded and returns
        None so the run can continue where that makes sense."""
        self.attempted += 1
        try:
            return fn(*a, **k)
        except Exception as ex:  # boundary: count, record, go on
            import traceback

            self.failed += 1
            self.errors.append(f"{name}: {ex!r}"[:500])
            traceback.print_exc()
            return None


# -- set-up --------------------------------------------------------------


def setup(run: Run):
    args = run.args
    with open(args.inputs) as fh:
        inputs = json.load(fh)
    from pyspark_recs.schemas import RAW_ENVELOPE
    from pyspark_recs.session import get_spark

    if args.workload == "recsys_flow":
        import pyspark_recs.io.sinks  # noqa: F401
        import pyspark_recs.pipeline  # noqa: F401
    elif args.workload == "corpus_prep":
        import pyspark_recs.llmops.pipeline  # noqa: F401
        import pyspark_recs.llmops.textstats  # noqa: F401
        import pyspark_recs.llmops.urls  # noqa: F401
    else:
        import pyspark_recs.workloads  # noqa: F401  (the query registry)
    t_import = time.time()
    spark = get_spark("perfbench")
    t_spark = time.time()
    spark.range(1).count()
    t_job = time.time()
    if args.workload == "recsys_flow":
        run.raw = {
            name: spark.read.schema(RAW_ENVELOPE).parquet(path)
            for name, path in inputs["hm"].items()
        }
    elif args.workload == "corpus_prep":
        run.docs = spark.read.schema(
            "doc_id bigint, text string, source string, url string"
        ).parquet(inputs["corpus"])
    t_inputs = time.time()
    run.spark, run.inputs = spark, inputs
    run.timings.update(
        setup_s=t_inputs - args.t0,
        import_s=t_import - args.t0,
        get_spark_s=t_spark - t_import,
        first_job_s=t_job - t_spark,
        inputs_s=t_inputs - t_job,
    )


# -- workloads -------------------------------------------------------------


def recsys_flow(run: Run):
    from pyspark_recs.pipeline import FlowConfig, run_flow

    spark = run.spark
    export = os.path.abspath("kv_export")
    run.begin_job()
    res = run.op(
        "run_flow",
        run_flow,
        spark,
        run.raw["articles"],
        run.raw["customers"],
        run.raw["transactions"],
        run.raw["images"],
        FlowConfig(),
        export_path=export,
    )
    run.end_job()
    if res is None:
        run.check(False, "run_flow failed")
        return
    run.quality = res.test_metrics["recall_at_10"]
    run.extra["best_params"] = res.best_params
    run.extra["test_users"] = res.test_metrics["n_users"]
    run.check(0.0 < run.quality <= 1.0, f"recall_at_10 {run.quality} not in (0, 1]")
    run.check(res.best_params in FlowConfig().param_grid, "best params not from the grid")

    # The exported KV table, read back without Spark: the truth for the
    # lookups below.
    import pyarrow.parquet as pq

    table = pq.read_table(export).to_pydict()
    store = dict(zip(table["userId"], table["recs"]))
    run.check(len(store) == res.test_metrics["n_users"], "export rows != test users")
    run.check(
        all(1 <= len(json.loads(v)) <= 10 for v in store.values()),
        "an exported row does not hold 1..10 items",
    )
    run.extra["kv_export_mb"] = dir_mb(export)
    lookups(run, export, store)


def lookups(run: Run, export: str, store: dict):
    """Closed loop, one client: a seeded mix of known (2/3) and missing
    (1/3) users, each call waiting for the previous one."""
    from pyspark_recs.io.sinks import point_lookup

    n = run.args.lookups
    if not n:
        return
    rng = random.Random(run.args.seed)
    known = sorted(store)
    keys = [
        rng.choice(known) if rng.random() < 2 / 3 else f"missing-{rng.randrange(10**9)}"
        for _ in range(n)
    ]
    lat, wrong = [], 0
    py4j0 = run.tracer.py4j.calls if run.tracer else 0
    ctx = run.tracer.span("io.point_lookup_loop") if run.tracer else nullcontext()
    with ctx:
        for key in keys:
            t = time.perf_counter()
            got = run.op("point_lookup", point_lookup, run.spark, export, key)
            lat.append(time.perf_counter() - t)
            want = json.loads(store[key]) if key in store else []
            wrong += got != want
    run.check(wrong == 0, f"{wrong} of {n} lookups returned wrong recs")
    lat.sort()
    run.layer["io.point_lookup_p50_ms"] = 1000 * quantile(lat, 0.50)
    run.layer["io.point_lookup_p90_ms"] = 1000 * quantile(lat, 0.90)
    if run.tracer:
        run.layer["io.point_lookup_py4j"] = (run.tracer.py4j.calls - py4j0) / n


def corpus_prep(run: Run):
    from pyspark.sql import functions as F

    from pyspark_recs.llmops.pipeline import prepare_corpus
    from pyspark_recs.llmops.textstats import bpe_train_merges
    from pyspark_recs.llmops.urls import canonicalize_url

    packed_path = os.path.abspath("packed")
    run.begin_job()
    docs = run.op(
        "canonicalize_url",
        lambda: run.docs.withColumn("canonical_url", canonicalize_url(F.col("url"))),
    )
    res = docs is not None and run.op(
        "prepare_corpus", prepare_corpus, docs, url_col="canonical_url"
    )
    if not res:
        run.end_job()
        run.check(False, "corpus preparation failed")
        return
    funnel = run.op("funnel", lambda: res.funnel.collect())
    run.op("pack_write", lambda: res.packed.write.mode("overwrite").parquet(packed_path))
    merges = run.op("bpe_train", lambda: bpe_train_merges(res.canonical, 3).collect())
    run.end_job()

    # Outside the timed region: the id sets behind the quality figure.
    import numpy as np
    import pyarrow.parquet as pq

    def ids(df):
        return {r.doc_id for r in df.select("doc_id").collect()}

    all_ids = ids(run.docs)
    url_kept, kept, canonical = ids(res.url_kept), ids(res.kept), ids(res.canonical)
    dropped = (all_ids - url_kept) | (kept - canonical)
    planted = set(np.load(run.inputs["planted_dups"]).tolist())
    tp = len(dropped & planted)
    f1 = 2 * tp / (len(dropped) + len(planted)) if dropped or planted else 1.0
    run.quality = f1
    counts = {r.stage: r.n_docs for r in funnel or []}
    run.extra["funnel"] = counts
    run.extra["dup_tp_fp_fn"] = [tp, len(dropped - planted), len(planted - dropped)]
    run.extra["merges"] = [tuple(r) for r in merges or []]
    run.check(
        [counts.get(s) for s in ("input", "url_kept", "quality_kept", "canonical")]
        == [len(all_ids), len(url_kept), len(kept), len(canonical)],
        "funnel counts disagree with the id sets",
    )
    run.check(
        len(all_ids) >= len(url_kept) >= len(kept) >= len(canonical) > 0,
        "funnel is not monotone",
    )
    packed_rows = pq.read_table(packed_path).num_rows if os.path.exists(packed_path) else -1
    run.check(packed_rows == len(canonical), "packed rows != canonical docs")
    run.check(merges is not None and len(merges) == 3, "BPE did not learn 3 merges")
    run.check(f1 > 0.0, "no planted duplicate was dropped")


def analytics_sweep(run: Run):
    """One cold pass over the query list; every query is built, then
    collected (every output column forced). Rows are hashed with the
    oracle harness's canonical hash after the pass."""
    from pyspark_recs.workloads import ORACLE, QUERIES

    sf = run.args.sweep_sf
    first, *rest = run.args.sweep.split(",")
    random.Random(run.args.seed).shuffle(rest)
    names = [first, *rest]
    tr = run.tracer

    def one(name):
        t0 = time.time()
        with tr.span("workloads.build") if tr else nullcontext():
            df = QUERIES[name](run.spark, sf)
        t1 = time.time()
        with tr.span("workloads.execute") if tr else nullcontext():
            rows = df.collect()
        return df, rows, t1 - t0, time.time() - t1

    results, per_query = {}, {}
    run.begin_job()
    for name in names:
        res = run.op(name, one, name)
        if res is None:
            continue
        df, rows, b_s, e_s = res
        per_query[name] = [round(b_s, 3), round(e_s, 3)]
        results[name] = (list(df.columns), [tuple(r) for r in rows])
        if tr:
            catalyst_phases(run, df)
    run.end_job()
    run.extra["build_execute_s"] = per_query

    sys.path.insert(0, run.args.root)
    from tools.oracle_check import canon_rows, value_hash

    hashes = {}
    for name, (cols, rows) in results.items():
        c, lines = canon_rows(cols, rows)
        hashes[name] = [len(rows), c, value_hash(lines)]
    run.extra["spark_hashes"] = hashes
    run.extra["order"] = names
    run.extra["oracle_sql"] = {name: ORACLE[name] for name in names}


def catalyst_phases(run: Run, df):
    tr = run.tracer
    tr.py4j.paused += 1
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                ms = phases.apply(phase).durationMs()
                key = f"catalyst.{phase}_s"
                run.layer[key] = run.layer.get(key, 0.0) + ms / 1000.0
    finally:
        tr.py4j.paused -= 1


WORKLOADS = {
    "recsys_flow": recsys_flow,
    "corpus_prep": corpus_prep,
    "analytics_sweep": analytics_sweep,
}


# -- helpers ---------------------------------------------------------------


def quantile(sorted_vals, q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    import math

    return sorted_vals[max(0, math.ceil(q * len(sorted_vals)) - 1)]


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def peak_rss(run: Run) -> float:
    """VmHWM of this Python process plus VmHWM of its JVM, read at the
    end of the job phase. Executor-side Python workers are excluded:
    they come and go with task scheduling."""
    jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
    py, jvm = vm_hwm_mb(os.getpid()), vm_hwm_mb(jvm_pid)
    run.extra["rss_python_jvm_mb"] = [py, jvm]
    if run.tracer:
        # Heap still in use after a full GC at the end of the job phase:
        # what the phase left cached. A layer figure: the heap is
        # pre-touched, so peak_rss_mb does not see it.
        mem = run.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        run.layer["jvm.heap_retained_mb"] = mem.getHeapMemoryUsage().getUsed() / 2**20
    return py + jvm


# -- traced run -------------------------------------------------------------


def install_tracing(run: Run):
    from spans import Tracer

    import pyspark_recs.workloads.common as common
    from pyspark_recs import pipeline, quality
    from pyspark_recs.features import categorify
    from pyspark_recs.io import loaders, sinks
    from pyspark_recs.llmops import dedup, textstats
    from pyspark_recs.llmops import pipeline as lpipe
    from pyspark_recs.llmops import urls
    from pyspark_recs.model import metrics, retrieval
    from pyspark_recs.sql import staging

    tr = Tracer(run.spark)
    run.tracer = tr
    w = tr.wrap_function
    w(pipeline, "run_flow", "pipeline.run_flow")
    w(pipeline, "build_dataset", "pipeline.build_dataset")
    for fn in ("articles_staging", "customers_staging", "transactions_staging",
               "images_staging", "dedup_transactions", "joined_dataframe",
               "filtered_dataframe"):
        w(staging, fn, "sql.staging")
    w(quality, "assert_schema", "quality.assert_schema")
    tr.wrap_method(categorify.Categorify, "fit", "features.categorify_fit")
    w(retrieval, "grid_search", "model.grid_search")
    w(retrieval, "train_als", "model.train_als")
    w(retrieval, "recommend_topk", "model.recommend_topk")
    w(metrics, "ranking_metrics", "model.ranking_metrics")
    w(sinks, "kv_export_parquet", "io.kv_export")
    w(sinks, "point_lookup", "io.point_lookup")
    w(loaders, "load_table", "io.load_table")
    w(urls, "canonicalize_url", "llmops.canonicalize_url")
    w(lpipe, "prepare_corpus", "llmops.prepare_corpus")
    w(textstats, "gopher_rules", "llmops.gopher_rules")
    w(dedup, "verified_neardup_edges", "llmops.neardup_edges")
    w(dedup, "connected_components", "llmops.connected_components")
    w(textstats, "bpe_train_merges", "llmops.bpe_train")

    def shared_around(orig, args, kwargs):
        spark, sf, key, builder = args

        def counted():
            if not tr.inside("workloads.artifact_plan"):
                tr.count("workloads.shared_plan_builds")
            return builder()

        return orig(spark, sf, key, counted)

    def artifact_around(orig, args, kwargs):
        spark, sf, key, version, builder = args

        def counted():
            tr.count("workloads.artifact_plan_builds")
            return builder()

        return orig(spark, sf, key, version, counted)

    def snapshot_around(orig, args, kwargs):
        tr.count("workloads.snapshot_plan_calls")
        return orig(*args, **kwargs)

    w(common, "shared_plan", "workloads.shared_plan", shared_around)
    w(common, "artifact_plan", "workloads.artifact_plan", artifact_around)
    w(common, "snapshot_plan", "workloads.snapshot_plan", snapshot_around)
    tr.start()


# Spans reported as ``<name>_s`` (and ``<name>_jobs`` if in JOB_COUNTED).
SPANNED = (
    "pipeline.build_dataset", "features.categorify_fit", "model.grid_search",
    "model.train_als", "model.recommend_topk", "model.ranking_metrics",
    "io.kv_export", "io.load_table", "llmops.gopher_rules", "llmops.neardup_edges",
    "llmops.connected_components", "llmops.bpe_train", "workloads.build",
    "workloads.execute",
)
JOB_COUNTED = {
    "pipeline.build_dataset", "model.train_als", "llmops.connected_components",
    "workloads.build", "workloads.execute", "io.load_table",
}
MATERIALIZE = ("workloads.shared_plan", "workloads.artifact_plan", "workloads.snapshot_plan")


def traced_metrics(run: Run, trace_start: float, trace_end: float) -> dict:
    """Per-layer metrics from the spans and the status store. Span job
    counts cover the whole traced region (lookups included); the
    executor and driver totals cover the job phase only, like job_s."""
    from spans import covered, spark_jobs, stage_totals

    tr = run.tracer
    tr.stop()
    all_jobs = spark_jobs(run.spark, trace_start, trace_end)
    phase_start, phase_end = run.window
    jobs = [j for j in all_jobs if phase_start <= j["start"] <= phase_end]
    by_group: dict = {}
    for j in all_jobs:
        by_group[j["group"]] = by_group.get(j["group"], 0) + 1
    m = {}
    for name in SPANNED:
        m[f"{name}_s"] = tr.total_s(name)
        if name in JOB_COUNTED:
            m[f"{name}_jobs"] = float(tr.jobs_under(name, by_group))
    m["io.load_table_calls"] = float(len(tr.outermost(["io.load_table"])))
    m["io.kv_export_mb"] = run.extra.get("kv_export_mb", 0.0)
    build = tr.outermost(["workloads.build"])
    m["workloads.build_py4j"] = float(sum(s.py4j for s in build))
    for key in ("workloads.shared_plan_builds", "workloads.artifact_plan_builds",
                "workloads.snapshot_plan_calls"):
        m[key] = float(tr.counts.get(key, 0))
    m["workloads.materialize_s"] = sum(s.end - s.start for s in tr.outermost(MATERIALIZE))
    lookups = tr.outermost(["io.point_lookup"])
    m["io.point_lookup_jobs"] = (
        tr.jobs_under("io.point_lookup", by_group) / len(lookups) if lookups else 0.0
    )
    stages = {s for j in jobs for s in j["stages"]}
    st = stage_totals(run.spark, stages)
    m["spark.jobs"] = float(len(jobs))
    m["spark.executor_run_s"] = st["run_ms"] / 1000.0
    m["spark.executor_cpu_s"] = st["cpu_ns"] / 1e9
    m["spark.gc_s"] = st["gc_ms"] / 1000.0
    m["spark.shuffle_write_mb"] = st["shuffle_write_b"] / 1e6
    m["spark.spill_mb"] = st["spill_b"] / 1e6
    m["driver.no_job_s"] = (phase_end - phase_start) - covered(
        [(j["start"], j["end"]) for j in jobs], phase_start, phase_end
    )
    m["py4j.calls"] = float(run.py4j_window[1] - run.py4j_window[0])
    run.spans = tr.to_json()
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, args.root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    run = Run(args)
    setup(run)
    if args.trace:
        install_tracing(run)
    t_start = time.time()
    WORKLOADS[args.workload](run)
    t_end = time.time()
    if args.trace:
        run.layer.update(traced_metrics(run, t_start, t_end))
        run.layer["trace.job_s"] = run.timings["job_s"]
    out = {
        "timings": run.timings,
        "quality": run.quality,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "checks": run.checks,
        "extra": run.extra,
        "layer": run.layer,
        "spans": getattr(run, "spans", None),
    }
    with open(args.result, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # No spark.stop() and no interpreter teardown: run.py kills the
    # worker's process group, JVM included, as soon as this exits.
    os._exit(code)
