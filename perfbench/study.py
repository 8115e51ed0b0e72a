#!/usr/bin/env python3
"""Steadiness study: run each workload several times, one seed per run,
and print every end-to-end metric's median, its (max - min) / median
spread and its interquartile range over the median -- the figure the
bounds in BENCHMARK.json are set against.

    python3 perfbench/study.py --runs 10 --seed0 100 [--record FILE] [workload ...]

Each run is the benchmark command of BENCHMARK.json, ``run.py``, with its
``run_seconds`` and tracing off.  Runs are sequential (timing two Spark
sessions at once inflates both).  With ``--record`` the set is appended to
FILE (``perfbench/steadiness.json`` holds the committed sets) and each
metric's median is compared with the set recorded before it.  Exits
non-zero if a run fails or reports a wrong output, if a spread other than
``setup_s``'s exceeds its bound, or if a median is worse than the previous
set's by more than its bound.
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
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    rel = (lambda x: x / med) if med else (lambda x: 0.0)
    return {"median": med, "min": min(values), "max": max(values),
            "maxmin_rel": rel(max(values) - min(values)), "iqr_rel": rel(q3 - q1)}


def one_run(wl: str, seed: int, seconds: int) -> tuple[dict | None, dict, str]:
    """(result, run details, stderr tail) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False)
    lines = proc.stdout.strip().splitlines()
    info = next((json.loads(x.split(": ", 1)[1]) for x in lines
                 if x.startswith("perfbench run: ")), {})
    if proc.returncode or not lines:
        return None, info, f"exit {proc.returncode}\n{proc.stderr[-2000:]}"
    return json.loads(lines[-1]), info, ""


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--record", default=None,
                   help="append the set to this JSON file and compare with its last set")
    args = p.parse_args()

    metrics = {m["name"]: m for m in bench["end_to_end"]}
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    previous = []
    if args.record and os.path.exists(args.record):
        with open(args.record, encoding="utf-8") as f:
            previous = json.load(f)["sets"]
    prev = {w["workload"]: w["summary"] for w in previous[-1]["workloads"]} if previous else {}

    ok = True
    out = {"seed0": args.seed0, "runs": args.runs, "run_seconds": bench["run_seconds"],
           "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "workloads": []}
    for wl in args.workloads:
        runs = []
        for r in range(args.runs):
            seed = args.seed0 + r
            result, info, err = one_run(wl, seed, bench["run_seconds"])
            if result is None:
                print(f"{wl} seed {seed}: {err}")
                ok = False
                continue
            ok &= result["correct"]
            runs.append({
                "seed": seed, "correct": result["correct"], "ops": info.get("ops"),
                "process_s": info.get("process_s"), "host.steal_s": info.get("host.steal_s"),
                "floors_start_ms": info.get("floors_start_ms"),
                "floors_end_ms": info.get("floors_end_ms"),
                "first_half_p50_ms": info.get("first_half_p50_ms"),
                "second_half_p50_ms": info.get("second_half_p50_ms"),
                "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
            print(f"{wl} seed {seed}: correct={result['correct']} ops={info.get('ops')} "
                  f"process_s={info.get('process_s')} steal={info.get('host.steal_s')} "
                  f"floors={info.get('floors_start_ms')}->{info.get('floors_end_ms')}",
                  flush=True)
        if not runs:
            continue
        summary = {name: spread([r["metrics"][name] for r in runs])
                   for name in runs[0]["metrics"]}
        out["workloads"].append({"workload": wl, "why": why.get(wl), "summary": summary,
                                 "runs": runs})
        print(f"\n{wl}: {len(runs)} runs")
        print(f"  {'metric':22s} {'median':>12s} {'max-min':>8s} {'IQR':>7s} "
              f"{'vs prev':>8s} {'bound':>6s}")
        for name, s in summary.items():
            m = metrics[name]
            shift = ""
            if name in prev.get(wl, {}):
                base = prev[wl][name]["median"]
                worse = (s["median"] - base if m["better"] == "lower" else base - s["median"])
                rel = worse / base if base else 0.0
                shift = f"{rel:+.1%}"
                ok &= rel <= m["bound"]
            if name != "setup_s":
                ok &= s["iqr_rel"] <= m["bound"]
            print(f"  {name:22s} {s['median']:12.4f} {s['maxmin_rel']:8.1%} "
                  f"{s['iqr_rel']:7.1%} {shift:>8s} {m['bound']:6.2f}")
        print(flush=True)
    if args.record:
        with open(args.record, "w", encoding="utf-8") as f:
            json.dump({"what": RECORD_WHAT, "sets": previous + [out]}, f, indent=1)
            f.write("\n")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


RECORD_WHAT = (
    "Sets of perfbench/study.py runs, oldest first: each run is one seed with tracing off; "
    "iqr_rel is (Q3 - Q1) / median over a set's runs, from statistics.quantiles(n=4); "
    "maxmin_rel is (max - min) / median.  Runs are on a shared 4-vCPU VM, local[4], "
    "1g driver heap.")


if __name__ == "__main__":
    raise SystemExit(main())
