#!/usr/bin/env python3
"""Grid-engine benchmark: Zarr store -> DataSource scan -> Catalyst ->
to_dataset / Zarr sink, as one closed-loop client sees it.

    python3 perfbench/run.py --workload scan_reduce --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver thread issues one op at a time
(closed loop, one client) against Spark ``local[k]``, k = min(4, cores).
A run does a fixed number of ops, ``round(seconds * rate)`` rounded up to
whole op cycles, and checks every op's output against a numpy oracle
outside the op's latency. The last stdout line is one JSON object:
``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs every op cycle twice, untraced then traced, and reports
the per-layer metrics instead (see perfbench/tracing.py).

All scratch files (stores, Spark local dirs, temp files) live under
``.perfbench_work/`` in the current directory and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import procfs  # noqa: E402

# Set-up is repeated this many times per run (fresh session registration
# plus one warm-up op of each type) and set-up time reports the median.
SETUP_REPS = 3
# get_spark defaults to 48g, more than a 16 GB box has; 2g holds the driver
DRIVER_MEMORY = "2g"
CORES = min(4, os.cpu_count() or 1)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


@contextlib.contextmanager
def isolated(work: str):
    """Point every temp/scratch location of this process, the JVM and the
    Python workers at ``work`` so a run writes nowhere else; restore the
    environment and ``tempfile.tempdir`` on exit."""
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    for sub in ("tmp", "spark"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # Spark's Python workers import the package too, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    try:
        yield
    finally:
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tmp


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait until
    every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = gateway.proc
    procs = procfs.descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(procfs.alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if procfs.alive(p):
            os.kill(p, signal.SIGKILL)


def run_ops(ops, tracer=None) -> dict:
    """Closed loop over ``ops``: latency covers the op alone; the oracle
    check runs after the clock stops. Returns latencies and failures."""
    lat, kinds, failed = [], [], 0
    procfs.clear_peak_rss()
    if tracer:
        tracer.loop_start()
    for i, op in enumerate(ops):
        if tracer:
            tracer.begin_op(op.kind)
        t = time.perf_counter()
        try:
            out, err = op.run(), None
        except Exception as e:  # counted, reported on stderr
            out, err = None, e
        dt = time.perf_counter() - t
        if tracer:
            tracer.end_op(dt)
        ok = err is None and op.check(out)
        if not ok:
            failed += 1
            print(f"op {i} ({op.kind}) failed: {err or 'wrong answer'}", file=sys.stderr)
        lat.append(dt)
        kinds.append(op.kind)
    if tracer:
        tracer.loop_end()
    return {"lat": lat, "kinds": kinds, "failed": failed, "rss": procfs.peak_rss_mb()}


def merge(loops: list[dict]) -> dict:
    return {
        "lat": [x for lp in loops for x in lp["lat"]],
        "kinds": [x for lp in loops for x in lp["kinds"]],
        "failed": sum(lp["failed"] for lp in loops),
        "rss": max((lp["rss"] for lp in loops), default=0.0),
    }


def op_p50_s(loop: dict) -> float:
    """Median op latency. In a mixed cycle, the geometric mean of each op
    type's median: a plain median of the mix lands on whichever type sits
    in the middle and jumps between types from run to run."""
    meds = [
        statistics.median([t for t, k in zip(loop["lat"], loop["kinds"]) if k == kind])
        for kind in dict.fromkeys(loop["kinds"])
    ]
    return statistics.geometric_mean(meds)


def summary(loop: dict) -> dict:
    return {
        "ops_per_s": len(loop["lat"]) / sum(loop["lat"]),
        "op_p50_s": op_p50_s(loop),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    import workloads as W

    wl = W.WORKLOADS.get(args.workload)
    if wl is None:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    with isolated(work):
        result = measure(args, wl, work)
    print(json.dumps(result))
    return 0


def measure(args, wl, work: str) -> dict:
    """Set up, run the ops and return the result object. Stops Spark and
    removes ``work`` whatever happens."""
    import workloads as W

    spark = tracer = None
    try:
        n_ops = wl.n_ops(args.seconds)
        t = time.perf_counter()
        inp = W.Inputs(wl, args.seed, n_ops, work)
        gen_s = time.perf_counter() - t

        import xarray_sql_spark.session as session
        from xarray_sql_spark.xr_session import XarraySession

        if args.trace:
            import tracing as T

            tracer = T.Tracer(wl, inp)
            tracer.install()
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        if tracer:
            tracer.spark = spark
        start_s = time.perf_counter() - T_START - gen_s

        out_dir = os.path.join(work, "out")
        os.makedirs(out_dir, exist_ok=True)
        if tracer:
            tracer.phase = "setup"
        reps, warm_failed = [], 0
        for r in range(SETUP_REPS):
            t = time.perf_counter()
            xs = XarraySession(spark)
            W.register(xs, wl, inp)
            warm = []
            for j, kind in enumerate(wl.cycle):
                op = W.make_op(xs, inp, kind, n_ops + r * len(wl.cycle) + j, out_dir)
                warm.append((op, op.run()))
            reps.append(time.perf_counter() - t)
            warm_failed += sum(not op.check(out) for op, out in warm)

        ops = [
            W.make_op(xs, inp, wl.cycle[i % len(wl.cycle)], i, out_dir)
            for i in range(n_ops)
        ]
        if tracer:
            tracer.phase = "ops"
        setup_s = start_s + statistics.median(reps)
        if tracer is None:
            loop = run_ops(ops)
            metrics = {
                **summary(loop),
                "setup_s": setup_s,
                "driver_peak_rss_mb": loop["rss"],
            }
        else:
            # each cycle runs untraced, then traced, so warm-up drift does
            # not land on one side of the tracing-overhead comparison
            k = len(wl.cycle)
            loop, traced = merge([]), merge([])
            for c in range(0, n_ops, k):
                loop = merge([loop, run_ops(ops[c : c + k])])
                traced = merge([traced, run_ops(ops[c : c + k], tracer)])
            metrics = tracer.report(loop, traced, setup_s=setup_s,
                                    start_s=start_s, reps=reps)
            loop = merge([loop, traced])
        unit = units()
        return {
            "correct": loop["failed"] == 0 and warm_failed == 0,
            "attempted": len(loop["lat"]),
            "failed": loop["failed"],
            "metrics": {
                k: {"value": float(v), "unit": unit[k]}
                for k, v in sorted(metrics.items())
            },
        }
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
