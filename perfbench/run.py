#!/usr/bin/env python3
"""Benchmark of the PRQL-on-Spark system: query -> SQL -> Catalyst -> Spark
jobs -> Arrow result or file sink.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the repository root.  One workload per process, one Spark session,
a closed loop with a single client.  A run goes: generate the seed's inputs
into ``.perfbench/cache`` (once per seed) and compute the expected outputs;
set up once (``setup_s``: the JVM launch, the session and the workload's
source registration, as every ``pq`` process pays them); run the workload's
untimed warm-up ops; time ops for ``--seconds``, rounded up to whole cycles
of the workload's op kinds; check every op's output.

stdout ends with the pinned run configuration, one line of run details
(op latencies, host steal, calibration floors; the Python-worker floor in
traced runs only) and, last, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run pairs every op (traced, untraced), reports the
difference as ``trace.overhead_ms`` and writes its spans to
``.perfbench/spans-<workload>-<seed>.json``.  Exits non-zero without a
result when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

import spans

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "1g"
MIN_OPS = 2       # a run times at least this many ops, whatever --seconds says


def pin_env() -> dict:
    """Fix everything the run inherits from its environment, before the
    JVM starts, and return it for printing."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(WORK, k) for k in ("spark-local", "tmp", "out", "cache")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PQ_SHUFFLE_PARTITIONS": str(cpus),
        "PQ_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYTHONHASHSEED": "0",
    })
    os.environ.pop("PQ_MAX_PARTITION_BYTES", None)
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    sys.path[:0] = [ROOT, HERE]
    return dirs


def start_session(tmp: str):
    from prql_query_spark.engine.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        # heap committed and touched up front, so peak RSS does not depend
        # on when the collector chose to grow the heap; no perf-data file,
        # which the JVM would write under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"
                                         " -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    jvm = gateway.proc
    children = descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in children) and time.time() < deadline:
        time.sleep(0.05)


def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def make_workload(name: str, seed: int, dirs: dict):
    """The workload object, its seeded inputs generated (or found cached)."""
    import gen
    import workloads

    if name == "olap_read":
        import __spark_entry__ as entry

        queries = {q: entry.PRQL_QUERIES[q] for q in workloads.OLAP_QUERIES}
        return workloads.OlapRead(gen.seed_dir(dirs["cache"], seed, "tpch"), seed, queries)
    if name == "curate_dedup":
        return workloads.CurateDedup(gen.seed_dir(dirs["cache"], seed, "curate"))
    return workloads.EtlWrite(gen.seed_dir(dirs["cache"], seed, "etl"), seed, dirs["out"])


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Run:
    """Runs and checks ops, and gathers the traced ops' per-layer numbers."""

    def __init__(self, wl, tr):
        self.wl, self.tr = wl, tr
        self.attempted = self.failed = 0
        self.layer: dict[str, list[float]] = {}

    def add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def add_spans(self, recorded) -> None:
        """One value per span name: the op's total time in that layer."""
        total: dict[str, float] = {}
        for name, a, b, _parent, _op in recorded:
            total[name] = total.get(name, 0.0) + (b - a) * 1e3
        for name, v in total.items():
            self.add(f"{name}_ms", v)

    def one(self, spark, i: int, item: int, traced: bool) -> tuple[float, str]:
        """Run, time, check and clean up one op; returns (latency s, kind)."""
        wl, tr = self.wl, self.tr
        tr.on, tr.op = traced, i
        if traced:
            spark.sparkContext.setJobGroup(f"perfbench-op{i}", "perfbench op", False)
        w0 = time.time()
        t0 = time.perf_counter()
        kind, out = wl.op(item, tr)
        lat = time.perf_counter() - t0
        w1 = time.time()
        tr.on = False
        if traced:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.account(spark, i, item, kind, out, (w0, w1),
                         spans.group_jobs(spark, f"perfbench-op{i}"), spans.storage_mb(spark))
        self.attempted += 1
        if not wl.check(item, kind, out):
            self.failed += 1
            print(f"perfbench: op {i} ({kind}) output mismatch", file=sys.stderr)
        wl.cleanup(item)
        return lat, kind

    def account(self, spark, i, item, kind, out, interval, jobs, store_mb) -> None:
        """Per-layer numbers of one traced op, from its spans and jobs."""
        op_spans = self.tr.op_spans(i)
        self.add_spans(op_spans)
        w0, w1 = interval
        wall = w1 - w0
        busy = spans.union_s(
            [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]], w0, w1)
        self.add("driver.construct_ms", (wall - busy) * 1e3)
        kinds = [spans.job_kind(j["name"], spans.innermost(op_spans, j["start"])
                                if j["start"] else None) for j in jobs]
        self.add("exec.jobs", len(jobs))
        for k in spans.JOB_KINDS:
            self.add(f"exec.jobs.{k}", kinds.count(k))
        self.add("sources.jobs", kinds.count("infer"))
        stages = [s for j in jobs for s in j["stages"]]
        self.add("exec.stages", len(stages))
        for key in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes"):
            self.add(f"exec.{key}", sum(s[key] for s in stages))
        cores = spark.sparkContext.defaultParallelism
        self.add("exec.core_busy_frac", sum(s["run_ms"] for s in stages) / 1e3 / (wall * cores))
        self.add("exec.storage_mb", store_mb)
        if kind == "curate":
            for st in out[1]:
                self.add(f"pipelines.{st['stage']}_s", st["seconds"])
        if hasattr(self.wl, "written"):
            nbytes, nfiles = self.wl.written(item)
            self.add("writers.bytes", nbytes)
            self.add("writers.files", nfiles)


def measure(run, spark, wl, args, pids) -> dict:
    """One timed window: ops for ``--seconds``, rounded up to whole cycles
    of the workload's op kinds, so every run weighs the kinds alike.
    Traced runs pair every item (traced, untraced), alternating which goes
    first, so the pairs' differences give the tracing overhead; a traced
    run holds at least ``MIN_OPS`` pairs."""
    steal0, cpu0 = spans.steal_s(), spans.cpu_s(pids)
    lats: list[float] = []
    traced: list[bool] = []
    kinds: list[str] = []
    t_start = time.perf_counter()
    i = 0
    cycle = wl.cycle * (2 if args.trace else 1)
    min_ops = MIN_OPS * (2 if args.trace else 1)
    while time.perf_counter() - t_start < args.seconds or i < min_ops or i % cycle:
        item, on = (i // 2, i % 2 == (i // 2) % 2) if args.trace else (i, False)
        lat, kind = run.one(spark, i, item, on)
        lats.append(lat)
        traced.append(on)
        kinds.append(kind)
        i += 1
    return {"lats": lats, "traced": traced, "kinds": kinds,
            "window_s": time.perf_counter() - t_start,
            "steal_s": spans.steal_s() - steal0, "cpu_s": spans.cpu_s(pids) - cpu0}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["olap_read", "curate_dedup", "etl_write"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    dirs = pin_env()
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import pq  # noqa: F401
        import prql_query_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)

    phases = {}
    t0 = time.perf_counter()
    wl = make_workload(args.workload, args.seed, dirs)
    wl.expect()
    phases["inputs_s"] = time.perf_counter() - t0
    tr = spans.Tracer()
    run = Run(wl, tr)

    # set-up = the JVM launch and a session with the workload's sources
    # registered: what a `pq` process pays before its first query
    tr.on, tr.op = bool(args.trace), -1
    t0 = time.perf_counter()
    spark = start_session(dirs["tmp"])
    phases["session_s"] = time.perf_counter() - t0
    wl.setup(spark, tr)
    phases["setup_s"] = time.perf_counter() - t0
    run.add_spans(tr.op_spans(-1))
    tr.on = False
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]  # noqa: SLF001

    t0 = time.perf_counter()
    for j in range(wl.warmup_ops):
        run.one(spark, -100 - j, j, False)
    phases["warmup_s"] = time.perf_counter() - t0

    floor_start = spans.floors_ms(spark, bool(args.trace))
    w = measure(run, spark, wl, args, pids)
    lats, traced, kinds = w["lats"], w["traced"], w["kinds"]
    window, steal, cpu = w["window_s"], w["steal_s"], w["cpu_s"]
    floor_end = spans.floors_ms(spark, bool(args.trace))
    rss = spans.hwm_mb(pids)
    config = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        **{k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "PYTHONPATH", "SPARK_LOCAL_DIRS")},
    }
    t0 = time.perf_counter()
    shutdown(spark)
    phases["stop_s"] = time.perf_counter() - t0

    ms = [x * 1e3 for x in lats]
    half = len(ms) // 2
    halves = (statistics.median(ms[:half]), statistics.median(ms[half:]))
    by_kind: dict[str, list[float]] = {}
    for k, x in zip(kinds, ms):
        by_kind.setdefault(k, []).append(x)
    print("perfbench config: " + json.dumps(config))
    print("perfbench run: " + json.dumps({
        "ops": len(ms), "window_s": round(window, 3),
        "process_s": round(time.time() - T_PROCESS, 1), "host.steal_s": round(steal, 3),
        "floors_start_ms": floor_start, "floors_end_ms": floor_end,
        "first_half_p50_ms": halves[0], "second_half_p50_ms": halves[1],
        "phases": {k: round(v, 2) for k, v in phases.items()},
        "ops_ms": [round(x, 1) for x in ms],
        "kind_p50_ms": {k: round(statistics.median(v), 1) for k, v in sorted(by_kind.items())}}))

    if not args.trace:
        values = {
            "latency_p50_ms": statistics.median(ms),
            "query_geomean_ms": geomean([statistics.median(v) for v in by_kind.values()]),
            "throughput_ops_per_s": len(ms) / sum(lats),
            "setup_s": phases["setup_s"],
            "peak_rss_mb": rss,
            "ok_ops_frac": (run.attempted - run.failed) / run.attempted,
        }
        declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    else:
        declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
        # counts are averaged over ops, times take the median
        values = {k: statistics.fmean(v) if declared.get(k) in ("count", "bytes")
                  else statistics.median(v) for k, v in run.layer.items()}
        pairs = [ms[j] - ms[j + 1] if traced[j] else ms[j + 1] - ms[j]
                 for j in range(0, len(ms) - 1, 2)]
        with open(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"), "w",
                  encoding="utf-8") as f:
            json.dump(tr.spans, f)
        values.update({
            "trace.overhead_ms": statistics.median(pairs),
            "trace.traced_p50_ms": statistics.median([x for x, t in zip(ms, traced) if t]),
            "trace.untraced_p50_ms": statistics.median([x for x, t in zip(ms, traced) if not t]),
            "session.start_s": phases["session_s"],
            "session.warmup_s": phases["warmup_s"],
            "host.steal_s": steal,
            "host.cpu_s_per_op": cpu / len(ms),
            "host.floor_empty_job_ms.start": floor_start[0],
            "host.floor_empty_job_ms.end": floor_end[0],
            "host.floor_py_identity_ms.start": floor_start[1],
            "host.floor_py_identity_ms.end": floor_end[1],
            "drift.first_half_p50_ms": halves[0],
            "drift.second_half_p50_ms": halves[1],
        })
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        # a layer the workload never enters reads 0
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in declared.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
