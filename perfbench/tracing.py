"""Per-layer tracing for the traced run (``--trace 1``).

Everything here lives in the benchmark, not in the program: spans are
recorded by wrapping the public entry points of each module from outside
(``Tracer.install``), Spark engine numbers come from the status store by
job group (one group per op), Catalyst phase times from each DataFrame's
``queryExecution().tracker()``, and process CPU / RSS from ``/proc``.
Spans stay in memory and are written once, at the end of the run, to
``.perfbench_work/traces/``.

Layers whose code runs in Spark's Python workers (the DataSource reader,
the pivot, chunk decode) cannot be spanned from the driver; isolated
probes (``probes``) time them on the driver over the same inputs.
"""

from __future__ import annotations

import functools
import json
import os
import pickle
import statistics
import time

import numpy as np

import procfs
import workloads as W

# Spans around public calls, by (module, attribute path). Spans nest: a
# span's parent is the innermost span open when it starts.
SPANNED = (
    ("xarray_sql_spark.session", "get_spark", "session.get_spark"),
    ("xarray_sql_spark.xr_session", "XarraySession.from_dataset", "xr_session.from_dataset"),
    ("xarray_sql_spark.xr_session", "XarraySession.sql", "xr_session.sql"),
    ("xarray_sql_spark.sources.grid_source", "make_payload", "grid_source.make_payload"),
    ("xarray_sql_spark.xr_session", "make_payload", "grid_source.make_payload"),
    ("xarray_sql_spark.plans.introspect", "metadata_aggregate_spec",
     "introspect.metadata_aggregate_spec"),
    ("xarray_sql_spark.plans.introspect", "referenced_scan_columns",
     "introspect.referenced_scan_columns"),
    ("xarray_sql_spark.to_dataset", "XarrayDataFrame.to_dataset", "to_dataset.to_dataset"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "to_dataset.collect"),
    ("xarray_sql_spark.operators.zarr_sink", "write_zarr_distributed", "zarr_sink.write"),
    ("xarray_sql_spark.operators.zarr_sink", "_collect_axes", "zarr_sink.collect_axes"),
    ("xarray_sql_spark.zarr_store", "open_zarr", "zarr_store.open_zarr"),
    ("xarray_sql_spark.zarr_store", "ZarrArray.read_block", "zarr_store.read_block"),
)
COUNT_JOBS = ("zarr_sink.collect_axes",)
OP_LEVEL = ("xr_session.sql", "to_dataset.to_dataset", "zarr_sink.write",
            "zarr_store.open_zarr", "zarr_store.read_block")


def _resolve(modname: str, path: str):
    import importlib

    obj = importlib.import_module(modname)
    *owners, attr = path.split(".")
    for o in owners:
        obj = getattr(obj, o)
    return obj, attr


def _cpu(jvm: int) -> dict:
    """CPU seconds of the driver, the JVM and the Python workers (the
    JVM's descendants, plus the CPU of workers already reaped)."""
    return {
        "driver": procfs.cpu_s(os.getpid()),
        "jvm": procfs.cpu_s(jvm),
        "pyworker": sum(procfs.cpu_s(p, children=True) for p in procfs.descendants(jvm)),
    }


# -- the tracer -------------------------------------------------------------


class Tracer:
    def __init__(self, wl, inp):
        self.wl, self.inp = wl, inp
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None  # current op index, None outside ops
        # "start" (get_spark), "setup" (set-up repetitions), "ops", "probe"
        self.phase = "start"
        self.ops: list[dict] = []
        self._dfs: list = []  # DataFrames planned inside the current op
        self._xdfs: list = []  # XarrayDataFrames collected inside the op
        self._rows = 0
        self.replans = 0
        self.spark = None
        self.cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self.jvm = None  # JVM pid, known once a loop starts

    # spans
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = tracer._stack[-1] if tracer._stack else None
            span = {"name": name, "op": tracer.op, "phase": tracer.phase,
                    "parent": parent, "start": time.perf_counter()}
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            jobs = tracer._group_jobs() if name in COUNT_JOBS else 0
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                tracer._stack.pop()
            if name in COUNT_JOBS:
                span["jobs"] = tracer._group_jobs() - jobs
            tracer._observe(name, args, out)
            return out

        return wrapper

    def _group_jobs(self) -> int:
        """Jobs submitted so far under the current job group."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return 0
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def loop_start(self) -> None:
        if self.jvm is None:
            self.jvm = self.spark.sparkContext._gateway.proc.pid
            procfs.clear_peak_rss(self.jvm)
        self._cpu0 = _cpu(self.jvm)

    def loop_end(self) -> None:
        cpu = _cpu(self.jvm)
        for k in cpu:
            self.cpu[k] += cpu[k] - self._cpu0[k]
        self.jvm_rss = procfs.peak_rss_mb(self.jvm)

    def _observe(self, name: str, args, out) -> None:
        if self.op is None:
            return
        if name == "to_dataset.collect":
            self._rows += len(out)
        elif name == "to_dataset.to_dataset":
            self._xdfs.append(args[0].df)

    def install(self) -> None:
        """Wrap every SPANNED entry point; ``uninstall`` restores them. An
        entry point that no longer resolves raises: its metrics would
        otherwise read as plausible zeros."""
        from pyspark.sql import SparkSession
        from xarray_sql_spark.xr_session import XarraySession

        self._saved = []
        for mod, path, name in SPANNED:
            owner, attr = _resolve(mod, path)
            self._saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))
        self._saved += [
            (SparkSession, "sql", SparkSession.__dict__["sql"]),
            (XarraySession, "_with_projection_pushdown",
             XarraySession.__dict__["_with_projection_pushdown"]),
        ]

        tracer = self
        sql = SparkSession.sql

        @functools.wraps(sql)
        def traced_sql(session, *a, **k):
            df = sql(session, *a, **k)
            if tracer.op is not None:
                tracer._dfs.append(df)
            return df

        SparkSession.sql = traced_sql
        pushdown = XarraySession._with_projection_pushdown

        @functools.wraps(pushdown)
        def counted(xs, df, *a, **k):
            out = pushdown(xs, df, *a, **k)
            if out is not df and tracer.op is not None:
                tracer.replans += 1
            return out

        XarraySession._with_projection_pushdown = counted

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)

    # ops
    def begin_op(self, kind: str) -> None:
        self.op = len(self.ops)
        self._dfs, self._xdfs, self._rows, self.replans = [], [], 0, 0
        self.spark.sparkContext.setJobGroup(f"perfbench-{self.op}", kind)
        self.ops.append({"kind": kind, "start": time.perf_counter()})

    def end_op(self, wall: float) -> None:
        rec = self.ops[-1]
        rec["wall"] = wall
        rec["end"] = rec["start"] + wall
        self.op = None
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec["replans"] = self.replans
        rec["result_rows"] = self._rows
        rec["catalyst"] = _phases(self._dfs)
        rec["scan_rows"] = sum(_scan_rows(x) for x in self._xdfs)

    # reporting
    def report(self, untraced: dict, traced: dict, **setup) -> dict:
        stages = stage_metrics(self.spark, len(self.ops))
        self.phase = "probe"
        probe = probes(self.spark, self.wl, self.inp, self)
        m = {}
        n = len(self.ops)
        # spans per op (seconds per op), registration spans per call
        per_op = {}
        for s in self.spans:
            key = s["name"]
            if s["op"] is not None:
                per_op[key] = per_op.get(key, 0.0) + s["end"] - s["start"]
        for key in ("xr_session.sql", "introspect.metadata_aggregate_spec",
                    "introspect.referenced_scan_columns", "to_dataset.to_dataset",
                    "to_dataset.collect"):
            m[f"{key}_s"] = per_op.get(key, 0.0) / n
        m["to_dataset.reverse_pivot_self_s"] = (
            m["to_dataset.to_dataset_s"] - m["to_dataset.collect_s"]
        )
        m["session.get_spark_s"] = sum(self._calls("session.get_spark", "start"))
        # set-up: the first repetition is cold, the later ones warm
        m["setup.cold_rep_s"] = setup["reps"][0]
        reg = self._calls("xr_session.from_dataset", "setup")
        m["xr_session.from_dataset_first_s"] = reg[0]
        m["xr_session.from_dataset_s"] = statistics.median(reg[1:] or reg)
        m["grid_source.make_payload_s"] = statistics.median(
            self._calls("grid_source.make_payload", "setup"))
        m["xr_session.replans"] = sum(o["replans"] for o in self.ops) / n
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = sum(o["catalyst"].get(phase, 0) for o in self.ops) / n
        rows = sum(o["result_rows"] for o in self.ops)
        m["grid_source.rows_emitted_per_result_row"] = (
            sum(o["scan_rows"] for o in self.ops) / rows if rows else 0.0
        )
        wall = sum(o["wall"] for o in self.ops)
        for k, v in stages.items():
            m[f"spark.{k}"] = v / n
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
        m["spark.core_idle_frac"] = 1.0 - stages["executor_run_s"] / (cores * wall)
        for k, v in self.cpu.items():
            m[f"proc.{k}_cpu_s"] = v / n
        m["proc.jvm_peak_rss_mb"] = self.jvm_rss
        # per-op-type latency and the numpy arm
        for kind in ("climatology", "zonal_mean", "anomaly", "slice"):
            lat = [t for t, k in zip(traced["lat"], traced["kinds"]) if k == kind]
            m[f"op.{kind}_p50_s"] = statistics.median(lat) if lat else 0.0
        for kind in ("climatology", "zonal_mean", "anomaly", "slice", "rechunk"):
            s = self.inp.numpy_s.get(kind)
            m[f"numpy.{kind}_s"] = statistics.median(s) if s else 0.0
        # one op cycle through SQL against the same cycle in numpy
        m["sql_over_numpy"] = sum(m[f"op.{k}_p50_s"] for k in self.wl.cycle) / sum(
            m[f"numpy.{k}_s"] for k in self.wl.cycle
        )
        # coverage of op wall time by the op-level driver spans
        m["trace.span_coverage_min"] = min(self._coverage(i) for i in range(n))
        u = len(untraced["lat"]) / sum(untraced["lat"])
        t = len(traced["lat"]) / sum(traced["lat"])
        m["trace.untraced_ops_per_s"] = u
        m["trace.traced_ops_per_s"] = t
        m["trace.overhead_frac"] = 1.0 - t / u
        m["ops_failed_frac"] = (untraced["failed"] + traced["failed"]) / (
            len(untraced["lat"]) + len(traced["lat"])
        )
        m.update(probe)
        self._dump(m, setup)
        return m

    def _calls(self, name: str, phase: str) -> list[float]:
        """Durations of every ``name`` span opened in ``phase``, in order."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["phase"] == phase]

    def _coverage(self, idx: int) -> float:
        iv = sorted(
            (s["start"], s["end"]) for s in self.spans
            if s["op"] == idx and s["name"] in OP_LEVEL and s["parent"] is None
        )
        covered, cur = 0.0, None
        for a, b in iv:
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        return covered / self.ops[idx]["wall"]

    def _dump(self, metrics: dict, setup: dict) -> None:
        d = os.path.join(os.getcwd(), ".perfbench_work", "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.wl.name}-seed{self.inp.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, "metrics": metrics,
                       "setup": setup}, f, default=str)


def _phases(dfs) -> dict:
    """Catalyst analysis/optimization/planning ms summed over the
    DataFrames an op planned (a re-planned query counts both plans)."""
    out: dict[str, float] = {}
    seen = set()
    for df in dfs:
        qe = df._jdf.queryExecution()
        if qe.hashCode() in seen:
            continue
        seen.add(qe.hashCode())
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = out.get(kv._1(), 0) + kv._2().durationMs()
    return out


def _scan_rows(df) -> int:
    """Rows the executed plan's grid scans emitted (AQE-aware walk; a
    reused stage counts once)."""
    seen = {}

    def walk(node):
        name = node.getClass().getSimpleName()
        if "BatchScan" in name:
            seen[node.id()] = node
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if "QueryStageExec" in name:
            walk(node.plan())
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())

    walk(df._jdf.queryExecution().executedPlan())
    total = 0
    for node in seen.values():
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                total += int(kv._2().value())
    return total


def stage_metrics(spark, n_ops: int) -> dict:
    """Status-store totals over every stage of the traced ops' job groups."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    jobs, stage_ids = 0, set()
    for i in range(n_ops):
        ids = tracker.getJobIdsForGroup(f"perfbench-{i}")
        jobs += len(ids)
        for j in ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    lst = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
        sc._jvm.java.util.ArrayList(),
    )
    tot = dict.fromkeys(
        ("stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
         "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0)
    for k in range(lst.size()):
        s = lst.apply(k)
        if s.stageId() not in stage_ids or s.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += s.numTasks()
        tot["executor_run_s"] += s.executorRunTime() / 1e3
        tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
        tot["jvm_gc_s"] += s.jvmGcTime() / 1e3
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        tot["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
    tot["jobs"] = float(jobs)
    return tot


# -- isolated layer probes ----------------------------------------------------


def _rate(fn, cells: int, reps: int = 3) -> float:
    """Median Mcells/s of ``fn`` over ``reps`` calls."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return cells / statistics.median(times) / 1e6


def _chunk_bytes(store: str) -> int:
    """Bytes of a Zarr store's chunk files (metadata files start with '.')."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(store)
        for f in files
        if not f.startswith(".")
    )


def probes(spark, wl, inp, tracer) -> dict:
    """Driver-side probes of the layers that run inside Spark's workers:
    chunk decode, pivot, the DataSource reader (read rate, per-task payload
    size, partitions kept per slice), plus one Zarr-sink rechunk op."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan, LessThanOrEqual
    from xarray_sql_spark import pivot
    from xarray_sql_spark.sources.grid_source import GridReader, make_payload, spark_schema
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    m: dict[str, float] = {}
    cells = int(np.prod(list(W.GRID.values())))
    nvars = len(W.VARS)

    # zarr_store: the workload's store, or (in-memory workload) the same
    # grid written with the store workload's chunks
    m["zarr_store.write_zarr_s"] = inp.write_zarr_s
    if not os.path.isdir(inp.store):
        t = time.perf_counter()
        write_zarr(W.make_dataset(inp.coords, inp.arrays), inp.store, chunks=W.STORE_CHUNKS)
        m["zarr_store.write_zarr_s"] = time.perf_counter() - t
    zds = open_zarr(inp.store)
    arrs = [zds.data_vars[v].data for v in W.VARS]

    def decode_all():
        for a in arrs:
            for lo in range(0, a.shape[0], a.chunks[0]):
                a.read_block((slice(lo, lo + a.chunks[0]), slice(None), slice(None)))

    m["zarr_store.read_block_mcells_per_s"] = _rate(decode_all, cells * nvars)
    m["zarr_store.stored_bytes_per_cell"] = _chunk_bytes(inp.store) / (cells * nvars)

    # pivot: one store-chunk-sized block of both variables
    nt = W.STORE_CHUNKS["time"]
    dims = ("time", "lat", "lon")
    block_coords = {"time": inp.coords["time"][:nt], "lat": inp.coords["lat"],
                    "lon": inp.coords["lon"]}
    block_arrays = {v: inp.arrays[v][:nt] for v in W.VARS}
    schema = pivot.infer_schema(dims, inp.coords, W.make_dataset(inp.coords, inp.arrays).data_vars)

    def pivot_block():
        for _ in pivot.iter_record_batches(dims, block_coords, block_arrays, schema):
            pass

    m["pivot.mcells_per_s"] = _rate(pivot_block, nt * W.GRID["lat"] * W.GRID["lon"] * nvars)

    # grid_source: the reader exactly as the workload registers it
    if wl.in_memory:
        payload = make_payload(dataset=W.make_dataset(inp.coords, inp.arrays), chunks=wl.chunks)
    else:
        payload = make_payload(store=inp.store, chunks=wl.chunks)
    reader = GridReader(payload, spark_schema(payload["arrow_schema"]))
    m["grid_source.payload_bytes"] = float(len(pickle.dumps(reader)))
    parts = reader.partitions()

    def read_all():
        for p in parts:
            for _ in reader.read(p):
                pass

    m["grid_source.read_mcells_per_s"] = _rate(read_all, cells * nvars, reps=2)
    if inp.boxes:
        kept = []
        for box in inp.boxes[: len(tracer.ops)]:
            t0 = inp.coords["time"][box["time"][0]]
            t1 = t0 + (box["time"][1] - box["time"][0]) * np.timedelta64(1, "h")
            t0, t1 = (t.astype("datetime64[us]").item() for t in (t0, t1))
            lat = inp.coords["lat"][slice(*box["lat"])]
            lon = inp.coords["lon"][slice(*box["lon"])]
            reader.pushFilters([
                GreaterThanOrEqual(("time",), t0), LessThan(("time",), t1),
                GreaterThanOrEqual(("lat",), float(lat.min())),
                LessThanOrEqual(("lat",), float(lat.max())),
                GreaterThanOrEqual(("lon",), float(lon.min())),
                LessThanOrEqual(("lon",), float(lon.max())),
            ])
            kept.append(len(reader.partitions()) / len(parts))
        m["grid_source.partitions_kept_frac"] = statistics.mean(kept)
    else:
        m["grid_source.partitions_kept_frac"] = 1.0

    # zarr_sink: a lat-band rechunk of the store-backed grid, traced like
    # an op (the first call warms the sink's code path and is not
    # reported). It runs on a fresh registration: at this commit a scan
    # reused after a filtered query keeps that query's partition pruning
    # (see test_perfbench.py::test_unfiltered_scan_after_filtered_scan).
    from xarray_sql_spark.xr_session import XarraySession

    xs = XarraySession(spark)
    W.register(xs, W.WORKLOADS["scan_reduce"], inp)
    out_dir = os.path.join(os.path.dirname(inp.store), "probe_out")
    os.makedirs(out_dir, exist_ok=True)
    for i in range(2):
        op = W.make_op(xs, inp, "rechunk", i, out_dir)
        first = len(tracer.spans)
        spark.sparkContext.setJobGroup(f"perfbench-probe-{i}", "rechunk")
        out = op.run()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        written = _chunk_bytes(os.path.join(out_dir, f"rechunk_{i}.zarr"))
        if not op.check(out):
            raise RuntimeError("rechunk probe wrote a wrong store")
    spans = tracer.spans[first:]

    def span_s(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    m["zarr_sink.write_s"] = span_s("zarr_sink.write")
    m["zarr_sink.reopen_s"] = span_s("zarr_store.open_zarr") + span_s("zarr_store.read_block")
    m["zarr_sink.written_bytes_per_cell"] = written / (cells * nvars)
    m["zarr_sink.axis_jobs"] = float(
        sum(s.get("jobs", 0) for s in spans if s["name"] == "zarr_sink.collect_axes")
    )
    return m
