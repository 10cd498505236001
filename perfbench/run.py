"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The launcher pins the environment
(cores, JVM heap, worker import path, Spark scratch directory, no
console progress bar) before Spark starts, generates the workload's
inputs from the seed under `.perfbench_work/`, runs the workload, checks
every result against its oracle, stops every process it started and
prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 they are its per_layer metrics, and the spans are written
to `.perfbench_out/`. The line before it is a detail object with the
workload's own metrics (see perfbench/README.md). Exit code 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WATCHDOG_S = 170


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: str, cpus: int) -> dict:
    """Everything the engine reads from the environment, fixed per run."""
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of the host, at most 4g: the engine defaults to 48g
        "SPARK_DRIVER_MEMORY": f"{max(1, min(4, int(host_memory_gb() // 4)))}g",
        # pandas-UDF workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # the workers run the interpreter that runs this script
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # temporary files stay in the run's work directory: Python's
        # tempfile (the gateway handshake, the workers) and every JVM's
        # java.io.tmpdir; no /tmp/hsperfdata files
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    return env


def stop_children() -> None:
    """Terminate and reap any process this run left behind."""
    from perfbench.trace import descendants

    me = os.getpid()
    left = [p for p in descendants(me) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            left = [p for p in left if os.path.exists(f"/proc/{p}")]
            for p in left:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not left:
                return
            time.sleep(0.1)


def collect_metrics(run, bench: dict, trace: bool, peak_mb: float) -> tuple[dict, dict]:
    """(metrics, others): the declared metrics of this mode, each with its
    unit, and the figures the workload measured beyond them (traced runs:
    the layers and calls only one workload runs) for the detail line."""
    from perfbench.trace import median

    if not trace:
        values = {
            "setup_s": run.setup_s,
            "cycle_p50_s": median(run.cycle_s),
            "items_per_s": sum(run.cycle_items) / sum(run.cycle_s),
            "peak_rss_mb": peak_mb,
        }
        declared = bench["end_to_end"]
    else:
        values = dict(run.layer)
        values["session.start_s"] = run.setup_durs["session.start"]
        values["session.first_udf_job_s"] = run.setup_durs["session.first_udf_job"]
        values["sources.read_plan_s"] = median(run.samples["sources.read_plan"])
        for layer, agg in run.rec.layer_totals().items():
            for key, v in agg.items():
                values[f"{layer}.{key}"] = v
        busy = run.setup_s + sum(run.cycle_s)
        values["trace.overhead_frac"] = run.rec.overhead_s / busy
        values["trace.cycle_p50_s"] = median(run.cycle_s)
        values["trace.cycles"] = len(run.cycle_s)
        declared = bench["per_layer"]
    names = {m["name"] for m in declared}
    missing = names - set(values)
    if missing:
        raise RuntimeError(f"declared metrics not measured: {sorted(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    return metrics, {k: v for k, v in values.items() if k not in names}


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "aeuc_vector_db_spark", "__init__.py")):
        print("aeuc_vector_db_spark not found: run from the root of a source checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = pin_environment(work, cpus)
    with open("/proc/loadavg") as f:
        loadavg = [float(x) for x in f.read().split()[:3]]

    # a hung Spark job must not outlive the run: kill the tree and exit
    def watchdog():
        print(f"run exceeded {WATCHDOG_S}s, aborting", file=sys.stderr, flush=True)
        stop_children()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, watchdog)
    timer.daemon = True
    timer.start()

    from perfbench.trace import PeakRss
    from perfbench.workloads import Run

    run = Run(args.seed, args.seconds, bool(args.trace), work, cpus)
    try:
        with PeakRss() as rss:
            run.rss = rss
            try:
                run.op("run", lambda: WORKLOADS[args.workload](run))
                run.op("trace counters", run.rec.resolve_counters)
            finally:
                t_stop = time.perf_counter()
                run.stop()
                stop_s = time.perf_counter() - t_stop
        if args.trace:
            run.rec.write(os.path.join(ROOT, ".perfbench_out",
                                       f"trace-{args.workload}-seed{args.seed}.jsonl"))
        metrics, others = collect_metrics(run, bench, bool(args.trace), rss.peak_mb)
    finally:
        stop_children()
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "loadavg_at_start": loadavg, "env": env,
        "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        "setup_s": run.setup_s, "warmup_cycle_s": run.warmup_s, "cycle_s": run.cycle_s,
        "rss_mb_at_peak": rss.at_peak, "before_session_s": run.t_session - t_start,
        "stop_s": stop_s, "wall_s": time.perf_counter() - t_start,
        "workload_metrics": run.extra, "layer_metrics": others,
    }}))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main(sys.argv[1:]))
