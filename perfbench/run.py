"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload recsys_flow --seed 1 --seconds 40 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached per seed under ``.perfbench_cache/``), the workload runs in a
fresh Python process with its own JVM on ``local[<cpus>]``, in its own
empty artifact store, Spark local dir and working directory, all removed
afterwards. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

Workloads, metrics and their meaning: see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("recsys_flow", "corpus_prep", "analytics_sweep")

# analytics_sweep: short registry queries from the r / rs / l / s
# families, every one with a DuckDB oracle twin and a result small
# enough to collect. The first query absorbs the JVM's warm-up and stays
# first; the seed permutes the rest. Left out (see README.md): queries
# that fit a large artifact cold (rs39, l98, l101, the rs queries over
# the holdout artifacts): each adds 10-30 s of job-count-bound work whose
# run-to-run spread (up to 0.2 of the pass) swamps the rest. The list is
# as long as the run budget allows.
SWEEP = (
    "r01_pricing_summary r10_three_way_join r51_grouping_sets rs33_ips_ctr_debias "
    "l02_minhash_signatures l19_pack_sequences l23_gopher_rules l95_url_canonical_dedup "
    "l100_robots_gate s01_tumbling_daily s02_sessionize"
).split()
SWEEP_SF = "sf0.1"
# Closed-loop point lookups after the flow. The traced run makes enough
# that 10 samples lie beyond p90 (p95 would need 200 lookups, 20-30 s
# more, and took a traced run to 140 s on a loaded machine, too close to
# the 180 s limit of a run); the untraced run only checks answers.
LOOKUPS = {0: 6, 1: 100}
DRIVER_MEMORY = "2g"
INPUTS = {"recsys_flow": "hm", "corpus_prep": "corpus"}  # generated input family


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sweep_sf_dir() -> str:
    """The registry's test data: ``$SPARK_GRAFT_SF_DIR`` or ``~/testdata/sf0.1``."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", SWEEP_SF
    )


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def worker_env(run_dir: str, trace: int) -> dict:
    env = dict(os.environ)
    for sub in ("artifacts", "local", "tmp", "snapshots"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env.pop("OMP_NUM_THREADS", None)
    env.pop("SPARK_MASTER", None)
    opts = [
        env.get("SPARK_SUBMIT_OPTS", ""),
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-XX:-UsePerfData",  # no hsperfdata files outside the run dir
        # The whole heap is resident from the start, so peak_rss_mb does
        # not depend on when G1 decides to grow the heap.
        f"-Xms{DRIVER_MEMORY}",
        "-XX:+AlwaysPreTouch",
    ]
    if trace:
        # Keep every job and stage of the run in the status store.
        opts += ["-Dspark.ui.retainedJobs=100000", "-Dspark.ui.retainedStages=100000"]
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_ARTIFACTS=f"{run_dir}/artifacts",
        SPARK_LOCAL_DIRS=f"{run_dir}/local",
        SPARK_GRAFT_SNAPSHOT_DIR=f"{run_dir}/snapshots",
        TMPDIR=f"{run_dir}/tmp",
        SPARK_SUBMIT_OPTS=" ".join(o for o in opts if o),
        PYTHONHASHSEED="0",
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def run_worker(args, root: str, inputs: dict, run_dir: str) -> dict:
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    manifest = os.path.join(run_dir, "inputs.json")
    with open(manifest, "w") as fh:
        json.dump(inputs, fh)
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--root", root, "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(args.trace),
        "--inputs", manifest, "--result", result,
        "--lookups", str(LOOKUPS[args.trace]),
        "--sweep-sf", sweep_sf_dir(), "--sweep", ",".join(SWEEP),
    ]
    with open(log, "w") as logf:
        t0 = time.time()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], cwd=work, env=worker_env(run_dir, args.trace),
            stdout=logf, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    out = None
    if code == 0 and os.path.exists(result):
        with open(result) as fh:
            out = json.load(fh)
    if out is None:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-4000:]
        fail(f"worker exited with {code}; log tail:\n{tail}", 3)
    return out


def group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def stop_group(proc):
    """Stop everything the worker started (its JVM and Python workers
    share its process group) and wait until all of it has ended."""
    while True:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        left = group_pids(proc.pid)
        if not left:
            return
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.05)


def oracle_hashes(root: str, cache: str, sf_dir: str, oracle_sql: dict) -> dict:
    """DuckDB oracle twin of each sweep query, hashed with the oracle
    harness's canonical hash; cached per query text and data."""
    import duckdb

    sys.path.insert(0, root)
    from tools.oracle_check import TABLES, canon_rows, value_hash

    out, con = {}, None
    for name, sql in sorted(oracle_sql.items()):
        key = hashlib.md5(f"{os.path.abspath(sf_dir)}\0{sql}".encode()).hexdigest()
        path = os.path.join(cache, "oracle", f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                out[name] = json.load(fh)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        c, lines = canon_rows(cols, rows)
        out[name] = [len(rows), c, value_hash(lines)]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out[name], fh)
    return out


def expect_same(inputs_dir: str, workload: str, fingerprint) -> bool:
    """The first run of a seed records what its outputs were; every
    later run of that seed in this checkout must reproduce them."""
    tag = hashlib.md5(" ".join(SWEEP).encode()).hexdigest()[:8]
    path = os.path.join(inputs_dir, f"expect-{workload}-{tag}.json")
    canon = json.loads(json.dumps(fingerprint))
    if not os.path.exists(path):
        with open(path, "w") as fh:
            json.dump(canon, fh, sort_keys=True)
        return True
    with open(path) as fh:
        return json.load(fh) == canon


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its worker and removes its run dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyspark_recs", "__init__.py")):
        fail("run from the repository root: no pyspark_recs package here")
    if args.workload == "analytics_sweep" and not os.path.isdir(sweep_sf_dir()):
        fail(f"no test data at {sweep_sf_dir()} (set SPARK_GRAFT_SF_DIR)")
    cache = os.path.join(root, ".perfbench_cache")
    os.makedirs(cache, exist_ok=True)
    sys.path.insert(0, HERE)
    import gen

    # Runs are strictly sequential: hold the lock for the whole run.
    with open(os.path.join(cache, "run.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        family = INPUTS.get(args.workload)
        inputs = (
            gen.write_inputs(os.path.join(cache, "inputs"), args.seed, family)
            if family else {"dir": os.path.join(cache, "inputs", "sweep")}
        )
        os.makedirs(inputs["dir"], exist_ok=True)
        run_dir = os.path.join(cache, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
        os.makedirs(run_dir)
        try:
            out = run_worker(args, root, inputs, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    problems = list(out["checks"])
    quality = out["quality"]
    fingerprint = {"quality": quality}
    if args.workload == "analytics_sweep":
        sf = sweep_sf_dir()
        oracle = oracle_hashes(root, cache, sf, out["extra"]["oracle_sql"])
        spark_h = out["extra"]["spark_hashes"]
        matched = [n for n in SWEEP if spark_h.get(n) == oracle[n]]
        quality = len(matched) / len(SWEEP)
        problems += [f"{n} differs from its oracle" for n in SWEEP if n not in matched]
        fingerprint = {"quality": quality, "hashes": spark_h}
    elif args.workload == "corpus_prep":
        fingerprint.update(funnel=out["extra"].get("funnel"), merges=out["extra"].get("merges"))
    else:
        fingerprint.update(best=out["extra"].get("best_params"))
    if quality is None:
        problems.append("no quality figure")
    elif not expect_same(inputs["dir"], args.workload, fingerprint):
        problems.append("outputs differ from an earlier run of the same seed")
    correct = not problems and out["failed"] == 0

    if args.trace:
        # A per-layer metric the workload does not exercise reads 0.
        vals = layer_values(out)
        metrics = {
            m["name"]: {"value": vals.get(m["name"], 0.0), "unit": m["unit"]}
            for m in bench_spec(root)["per_layer"]
        }
        save_trace(cache, args, out)
    else:
        t = out["timings"]
        metrics = {
            "setup_s": {"value": t["setup_s"], "unit": "s"},
            "job_s": {"value": t["job_s"], "unit": "s"},
            "quality": {"value": quality, "unit": "ratio"},
            "peak_rss_mb": {"value": t["peak_rss_mb"], "unit": "MB"},
        }
    print("perfbench-record: " + json.dumps(
        {"timings": out["timings"], "extra": {k: v for k, v in out["extra"].items()
                                              if k not in ("oracle_sql", "spark_hashes")}}
    ), file=sys.stderr)
    for p in problems + out["errors"]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


def layer_values(out: dict) -> dict:
    t = out["timings"]
    vals = dict(out["layer"])
    vals.update({
        "setup.import_s": t["import_s"],
        "session.get_spark_s": t["get_spark_s"],
        "setup.first_job_s": t["first_job_s"],
        "setup.inputs_s": t["inputs_s"],
    })
    return vals


def bench_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def save_trace(cache: str, args, out: dict):
    path = os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({k: out[k] for k in ("spans", "layer", "timings", "extra")}, fh)


if __name__ == "__main__":
    sys.exit(main())
