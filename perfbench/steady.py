"""Steadiness check: run every workload on several seeds and report each
metric's median, quartiles, max-min and quartile spread.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0]
                                [--out perfbench/results/set1.json]

Run from the repository root. Runs are sequential. The quartiles are
``statistics.quantiles(values, n=4)``; the spread is (q3 - q1) / median,
the figure compared with each metric's bound in BENCHMARK.json. With
``--against`` it also compares medians with an earlier ``--out`` file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "n": len(values),
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "max_min": max(values) - min(values),
    }


def markdown(report: dict, bounds: dict, args) -> str:
    lines = [
        f"seeds {args.seeds}, trace {args.trace}\n",
        "| workload | metric | median | q1 | q3 | max-min | spread | bound |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for w, ms in report.items():
        for m, s in ms.items():
            if isinstance(s, dict):
                b = bounds.get(m)
                lines.append(
                    f"| {w} | {m} | {s['median']:.4f} | {s['q1']:.4f} | {s['q3']:.4f} "
                    f"| {s['max_min']:.4f} | {s['spread']:.3f} | {'' if b is None else b} |"
                )
    return "\n".join(lines) + "\n"


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default="")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default="")
    p.add_argument("--against", default="")
    p.add_argument("--md", default="", help="also write the report table as markdown")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs: dict = {}
    for w in names:
        for s in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                   "--trace", str(args.trace)]
            t = time.time()
            proc = subprocess.run(cmd, capture_output=True, text=True)
            wall = time.time() - t
            if proc.returncode != 0:
                print(proc.stderr[-2000:], file=sys.stderr)
                return 1
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res["wall_s"] = wall
            res["seed"] = s
            rec = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench-record: ")]
            if rec:
                res["record"] = json.loads(rec[-1].split(": ", 1)[1])
            runs.setdefault(w, []).append(res)
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed {s}: wall {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    report = {}
    for w, rs in runs.items():
        report[w] = {}
        for m in sorted({k for r in rs for k in r["metrics"]}):
            report[w][m] = summary([r["metrics"][m]["value"] for r in rs])
        report[w]["wall_s"] = summary([r["wall_s"] for r in rs])
        if all("record" in r for r in rs):
            for part in ("import_s", "get_spark_s", "first_job_s", "inputs_s"):
                report[w][f"setup.{part}"] = summary([r["record"]["timings"][part] for r in rs])
        report[w]["all_correct"] = all(r["correct"] for r in rs)
        report[w]["failed"] = sum(r["failed"] for r in rs)
    print(f"\n{'workload':16} {'metric':32} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'max-min':>10} {'spread':>7} {'bound':>6}")
    for w, ms in report.items():
        for m, s in ms.items():
            if not isinstance(s, dict):
                continue
            b = bounds.get(m)
            print(f"{w:16} {m:32} {s['median']:10.4f} {s['q1']:10.4f} {s['q3']:10.4f} "
                  f"{s['max_min']:10.4f} {s['spread']:7.3f} {'' if b is None else b:>6}")
    if args.against:
        with open(args.against) as fh:
            before = json.load(fh)["report"]
        print("\nmedian shift against", args.against)
        for w, ms in report.items():
            for m, s in ms.items():
                if isinstance(s, dict) and m in before.get(w, {}):
                    m0 = before[w][m]["median"]
                    shift = (s["median"] - m0) / m0 if m0 else 0.0
                    print(f"{w:16} {m:32} {m0:10.4f} -> {s['median']:10.4f} ({shift:+.3f})")
    if args.md:
        with open(args.md, "w") as fh:
            fh.write(markdown(report, bounds, args))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"runs": runs, "report": report}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
