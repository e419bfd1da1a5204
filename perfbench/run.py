#!/usr/bin/env python3
"""Benchmark of pulsar-pit's shipped paths, measured from outside.

    python3 perfbench/run.py --workload job_lyon --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process runs one workload: it pins
the environment, starts a Spark session, builds the inputs from the
seed (several times, to time set-up), warms up, then repeats the
workload's operation for ``--seconds`` and checks every output.  The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones.  The line before it records the host
context of the run.  The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_FILES = (
    "pulsarfeatureextractor_spark/session.py",
    "jobs/extract_features.py",
    "tests/oracle.py",
)
SETUP_REPEATS = 3  # set-up is timed this many times; setup_s takes the median
WARMUP = 1  # untimed iterations after set-up; the JIT settings below make one enough
MIN_ITERATIONS = {0: 3, 1: 1}  # timed (or traced) operations per run, at the least
DEADLINE_S = 150  # a run still going after this stops, leaving time to tear down
SPARK_CPUS = 2  # local[2] is as fast as local[4] on a 4-core host and leaves cores free
DRIVER_MEMORY = "2g"


def pin_environment(work: str) -> tuple[dict, dict]:
    """Environment and Spark settings every run uses, so that results
    do not depend on the defaults the engine sizes for a large host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(min(SPARK_CPUS, len(os.sched_getaffinity(0)))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher too, keeps its temp files
        # (and no hsperfdata) inside the work directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: GC sizing and heap growth then do
        # not differ from run to run, and the JVM's RSS is constant.  C1
        # only: the default tiered JIT kept speeding the job up for more
        # than 15 iterations, so short runs would time the warm-up.  Even
        # C1 at its default thresholds kept speeding ``ingest`` up for
        # about 8 iterations, as much of Spark's code runs only a few
        # times per query; at a tenth of them both workloads are warm
        # after one iteration.  The larger code cache holds the extra
        # compiled code: a full cache stops the JIT
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
            " -XX:CompileThresholdScaling=0.1 -XX:ReservedCodeCacheSize=256m"),
    }
    return env, confs


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot: its growth during a run shows co-tenant load that
    the guest's own load average does not."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, tree) -> None:
    """Stop the session and the JVM, and wait for every process they
    started (the JVM exits when its stdin closes; its Python workers
    when the JVM is gone)."""
    from pyspark import SparkContext

    started = [p for p in tree.pids() if p != tree.root]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    for grace, sig in ((20, None), (10, signal.SIGKILL)):
        if sig is not None:
            for p in started:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, sig)
        deadline = time.monotonic() + grace
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.2)
    left = [p for p in started if _alive(p)]
    if left:
        raise RuntimeError(f"processes {left} outlived the Spark session")


def run_workload(spark, wl, args, spec, session_s: float) -> tuple[dict, dict]:
    from measure import ProcTree, Spans, SqlMetrics

    context: dict = {"session_start_s": session_s, "mismatches": []}
    attempted = failed = 0

    def checked(out) -> None:
        nonlocal attempted, failed
        attempted += 1
        bad = wl.check(out)
        if bad:
            failed += 1
            context["mismatches"].extend(bad[:3])
            print(f"perfbench: {wl.name}: " + "; ".join(bad[:3]), file=sys.stderr)

    gen = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        wl.build(os.path.join(wl.work, f"input{k}"))
        gen.append(time.perf_counter() - t)
    wl.prepare()

    t = time.perf_counter()
    for i in range(WARMUP):
        out = wl.run(i)
        checked(out)
        wl.after(out)
    warmup_s = time.perf_counter() - t
    context.update(setup_gen_s=gen, warmup_iterations=WARMUP, warmup_s=warmup_s)

    tree = ProcTree()
    i = WARMUP
    start = time.perf_counter()
    walls, cpus, out_bytes, peak, layers = [], [], [], 0, []
    spans, sql = Spans(), SqlMetrics(spark)
    while (len(walls) + len(layers) < MIN_ITERATIONS[args.trace]
           or time.perf_counter() - start < args.seconds):
        if args.trace:
            with spans.span(i, "iteration"):
                values, out = wl.trace(i, spans, sql)
            layers.append(values)
        else:
            tree.start_peak()
            c0, t0 = tree.cpu_s(), time.perf_counter()
            out = wl.run(i)
            walls.append(time.perf_counter() - t0)
            cpus.append(tree.cpu_s() - c0)
            peak = max(peak, tree.stop_peak())
            out_bytes.append(wl.output_bytes(out))
        checked(out)
        wl.after(out)
        i += 1
    context["timed_iterations"] = len(walls) + len(layers)
    context["measured_s"] = time.perf_counter() - start

    if args.trace:
        unknown = set().union(*layers) - set(spec["per_layer"])
        if unknown:
            raise KeyError(f"per-layer figures missing from BENCHMARK.json: {sorted(unknown)}")
        values = {
            name: statistics.fmean(float(it.get(name, 0.0)) for it in layers)
            for name in spec["per_layer"]
        }
        values["session.start_s"] = context["session_start_s"]
        values["sources.gen_s"] = statistics.median(gen)
        values["trace.overhead_s"] = sql.spent_s / len(layers)
        spans_path = os.path.join(
            ROOT, ".perfbench_work", "results", f"spans-{wl.name}-seed{args.seed}.json")
        spans.write(spans_path)
        context["spans"] = os.path.relpath(spans_path, ROOT)
    else:
        wall = statistics.median(walls)
        values = {
            "wall_s": wall,
            "rows_per_s": wl.input_rows / wall,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": peak / (1 << 20),
            "bytes_per_row": statistics.median(out_bytes) / wl.input_rows,
            "setup_s": context["session_start_s"] + statistics.median(gen) + warmup_s,
        }
        context["walls_s"] = walls
    units = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, context


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size factor; below 1 only for the smoke test")
    args = ap.parse_args(argv)

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if missing or not os.path.isfile(bench_file):
        print(f"perfbench: no engine to measure under {ROOT} "
              f"({(missing or ['BENCHMARK.json'])[0]} is missing)", file=sys.stderr)
        return 2
    with open(bench_file) as f:
        bench = json.load(f)
    spec = {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    def on_deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    results_dir = os.path.join(ROOT, ".perfbench_work", "results")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(results_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    env, confs = pin_environment(work)
    sys.path.insert(0, ROOT)

    from measure import ProcTree
    from pulsarfeatureextractor_spark.session import get_spark
    from workloads import WORKLOADS

    load_before, steal_before = os.getloadavg(), steal_s()
    tree = ProcTree()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_confs=confs)
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, ROOT, work, args.seed, args.scale)
        result, context = run_workload(spark, wl, args, spec, session_s)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark, tree)
        shutil.rmtree(work, ignore_errors=True)
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "nproc": os.cpu_count(), "affinity_cpus": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "steal_s": steal_s() - steal_before,
        "env": env, "spark_confs": confs, "python": platform.python_version(),
        **context,
    }
    with open(os.path.join(results_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"context": context, "result": result}) + "\n")
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
