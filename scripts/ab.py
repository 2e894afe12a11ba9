#!/usr/bin/env python3
"""Interleaved A/B of two revisions, judged by the benchmark's own rules.

    python3 scripts/ab.py --base REV [--head REV] [--seeds 1,2,3,4,5] TARGET...

Run from anywhere inside the repository. A TARGET is either

- a perfbench workload (``BENCHMARK.json`` ``workloads``): ten pairs of
  ``perfbench/run.py --workload W --seed S --seconds <run_seconds>``
  processes, one per side, over ``git archive`` snapshots of both
  revisions in a temporary directory (``--head`` defaults to a snapshot of
  the working tree). Both snapshots get the working tree's benchmark files
  (``BENCHMARK.json`` and its ``paths``), so both sides run identical
  benchmark code. Pair ``i`` uses seed ``seeds[i % len(seeds)]``; or
- a registry query name: one Spark session runs both builders to the noop
  sink. The base revision's copy of the module that defines the live
  builder is executed into a throwaway registry (the live ``REGISTRY``
  keeps the current builders; ``--head REV`` loads that revision's copy
  the same way), the sorted rows of both sides must be equal, and every
  timed run starts with ``reset_train_caches()`` so both sides pay their
  model training. Input: ``$SPARK_GRAFT_SF_DIR`` (bench.py's default).

Either way the sides alternate which runs first, and the tool prints, per
target and end-to-end metric, ``base median (q1–q3) → head median (q1–q3),
Δ, pairs head won`` and a verdict (gain, flat, regression or unresolved)
from the metric's ``better`` and ``bound`` in ``BENCHMARK.json``. A query's
run time is judged as ``op_p50_s``. Verdicts are withheld when any op
failed on either side.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10
# the registry's stand-in for a query's run time, for `better` and `bound`
QUERY_METRIC = "op_p50_s"


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- verdicts


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``perfbench/steadiness.py`` computes them."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def pairs_won(base: list[float], head: list[float], better: str) -> int:
    sign = 1 if better == "higher" else -1
    return sum(sign * (h - b) > 0 for b, h in zip(base, head))


def verdict(base: list[float], head: list[float], better: str, bound: float) -> str:
    """Gain, flat, regression or unresolved for paired runs of one metric.

    Regression: the head median is worse than the base median by more than
    ``bound`` (a share of the base median). Gain: head wins at least nine
    tenths of the pairs and the medians differ, in head's favour, by more
    than the base runs' interquartile distance. Unresolved: either side's
    spread (IQR / median) is wider than ``bound``, unless every head run
    reads better than every base run. Flat: none of these."""
    sign = 1 if better == "higher" else -1
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    if -sign * (hmed - bmed) > bound * abs(bmed):
        return "regression"
    if pairs_won(base, head, better) >= 0.9 * len(base) and sign * (hmed - bmed) > bq3 - bq1:
        return "gain"
    spread = max((bq3 - bq1) / abs(bmed), (hq3 - hq1) / abs(hmed))
    if spread > bound and not min(sign * h for h in head) > max(sign * b for b in base):
        return "unresolved"
    return "flat"


def fmt(v: float) -> str:
    return f"{v:.3f}" if abs(v) < 10 else f"{v:.1f}"


def row(target: str, metric: str, base: list[float], head: list[float], better: str) -> str:
    """One line in the CHANGES.md table format."""
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    delta = f"{100 * (hmed - bmed) / abs(bmed):+.1f}%".replace("-", "−")
    return (
        f"{target} / {metric}: {fmt(bmed)} ({fmt(bq1)}–{fmt(bq3)}) → "
        f"{fmt(hmed)} ({fmt(hq1)}–{fmt(hq3)}), {delta}, "
        f"{pairs_won(base, head, better)}/{len(base)}"
    )


def report(target: str, samples: dict, counts: dict, bench: dict) -> list[str]:
    """The printed lines for one target: a row per metric (with its verdict
    unless an op failed), then each side's failed/attempted ops.

    ``samples`` maps metric -> (base values, head values), paired by index;
    ``counts`` maps "base"/"head" -> (failed, attempted)."""
    spec = {m["name"]: m for m in bench["end_to_end"]}
    failed = any(f for f, _ in counts.values())
    lines = []
    for metric, (base, head) in samples.items():
        if len(base) < 2:
            lines.append(f"{target} / {metric}: {len(base)} complete pairs, too few to compare")
            continue
        m = spec.get(metric, spec[QUERY_METRIC])
        line = row(target, metric, base, head, m["better"])
        if not failed:
            line += f": {verdict(base, head, m['better'], m['bound'])}"
        lines.append(line)
    lines.append(
        f"{target}: failed/attempted base {counts['base'][0]}/{counts['base'][1]}, "
        f"head {counts['head'][0]}/{counts['head'][1]}"
        + (" (no verdict: an op failed)" if failed else "")
    )
    return lines


# --------------------------------------------------------------- snapshots


def git(*args: str) -> bytes:
    return subprocess.run(
        ["git", "-C", ROOT, *args], capture_output=True, check=True
    ).stdout


def worktree_files(*paths: str) -> list[str]:
    """Tracked and unignored untracked files present in the working tree."""
    out = git("ls-files", "-z", "--cached", "--others", "--exclude-standard", "--", *paths)
    return [p for p in out.decode().split("\0") if p and os.path.isfile(os.path.join(ROOT, p))]


def copy_worktree(dest: str, rels: list[str]) -> None:
    for rel in rels:
        target = os.path.join(dest, rel)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy2(os.path.join(ROOT, rel), target)


def snapshot(rev: str | None, dest: str, bench: dict) -> None:
    """Write revision ``rev`` (the working tree when None) to ``dest``, with
    the working tree's benchmark files in place of the revision's."""
    os.makedirs(dest)
    if rev is None:
        copy_worktree(dest, worktree_files())
        return
    subprocess.run(["tar", "-x", "-C", dest], input=git("archive", rev), check=True)
    bench_paths = [*bench["paths"], "BENCHMARK.json"]
    for rel in bench_paths:
        old = os.path.join(dest, rel)
        if os.path.isdir(old):
            shutil.rmtree(old)
    copy_worktree(dest, worktree_files(*bench_paths))


def describe(rev: str | None) -> str:
    if rev is None:
        return "working tree"
    return git("rev-parse", "--short", f"{rev}^{{commit}}").decode().strip()


# --------------------------------------------------------------- workloads


def run_workload(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One untraced perfbench run in ``tree``; its result, or None if the
    process did not print one."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=tree, capture_output=True, text=True,
    )
    try:
        return json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        print(f"  run failed (exit {p.returncode}):\n{p.stderr[-2000:]}", file=sys.stderr)
        return None


def ab_workload(workload: str, trees: dict, seeds: list[int], bench: dict) -> list[str]:
    metrics = [m["name"] for m in bench["end_to_end"]]
    samples = {m: ([], []) for m in metrics}
    counts = {"base": [0, 0], "head": [0, 0]}
    for i in range(PAIRS):
        seed = seeds[i % len(seeds)]
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        got = {}
        for side in order:
            got[side] = run_workload(trees[side], workload, seed, bench["run_seconds"])
            # a run that printed nothing counts as one failed op
            res = got[side] or {"failed": 1, "attempted": 1}
            counts[side][0] += res["failed"]
            counts[side][1] += res["attempted"]
        if got["base"] and got["head"]:
            for m in metrics:
                samples[m][0].append(got["base"]["metrics"][m]["value"])
                samples[m][1].append(got["head"]["metrics"][m]["value"])
        print(f"  {workload} pair {i + 1}/{PAIRS} seed {seed} ({order[0]} first): "
              + " ".join(f"{m} {samples[m][0][-1]:.4g}/{samples[m][1][-1]:.4g}"
                         for m in metrics if len(samples[m][0]) == i + 1),
              file=sys.stderr, flush=True)
    return report(workload, samples, {k: tuple(v) for k, v in counts.items()}, bench)


# ----------------------------------------------------------------- queries


def load_registry(rev: str, modules: list[str]) -> dict:
    """Execute revision ``rev``'s copy of each module with the registry
    swapped for a throwaway dict; return that dict (name -> QuerySpec).

    The copies are module objects with no file, so cloudpickle ships their
    UDFs to the workers by value."""
    import xarray_sql_spark.queries  # noqa: F401  (fill the live registry first)
    import xarray_sql_spark.registry as reg

    live, sandbox = reg.REGISTRY, {}
    reg.REGISTRY = sandbox
    try:
        for name in modules:
            rel = name.replace(".", "/") + ".py"
            mod = types.ModuleType(re.sub(r"\W", "_", f"_ab_{rev}_{name}"))
            sys.modules[mod.__name__] = mod  # dataclasses resolve annotations here
            src = git("show", f"{rev}:{rel}")
            exec(compile(src, f"{rev}:{rel}", "exec"), mod.__dict__)
    finally:
        reg.REGISTRY = live
    return sandbox


def ab_queries(names: list[str], base: str, head: str | None, bench: dict) -> list[str]:
    import xarray_sql_spark.queries  # noqa: F401
    from xarray_sql_spark.registry import REGISTRY, reset_train_caches
    from xarray_sql_spark.session import DEFAULT_SF_DIR, get_spark

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"neither a workload nor a registry query: {unknown}")
    modules = list(dict.fromkeys(REGISTRY[n].fn.__module__ for n in names))
    regs = {"base": load_registry(base, modules),
            "head": REGISTRY if head is None else load_registry(head, modules)}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("ab")

    def run(fn) -> float:
        reset_train_caches()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    lines = []
    for name in names:
        fns = {}
        for side, reg in regs.items():
            if name not in reg:
                sys.exit(f"{name}: not defined at the {side} revision")
            fns[side] = reg[name].fn
        rows = {
            side: sorted(repr(tuple(r)) for r in fn(spark, sf_dir).collect())
            for side, fn in fns.items()
        }
        if rows["base"] != rows["head"]:
            sys.exit(f"{name}: OUTPUTS DIFFER ({len(rows['base'])} vs {len(rows['head'])} rows)")
        print(f"  {name}: outputs identical ({len(rows['base'])} rows)", file=sys.stderr)
        for fn in fns.values():  # warm both shapes
            run(fn)
        times = ([], [])
        counts = {"base": [0, 0], "head": [0, 0]}
        for i in range(PAIRS):
            spark.sparkContext._jvm.System.gc()
            gc.collect()
            got = {}
            for side in (("base", "head") if i % 2 == 0 else ("head", "base")):
                counts[side][1] += 1
                try:
                    got[side] = run(fns[side])
                except Exception as e:  # counted; the verdict is withheld
                    counts[side][0] += 1
                    print(f"  {name} {side} failed: {e}", file=sys.stderr)
            if len(got) == 2:
                times[0].append(got["base"])
                times[1].append(got["head"])
            print(f"  {name} pair {i + 1}/{PAIRS}: "
                  + " ".join(f"{s} {t:.3f}" for s, t in got.items()),
                  file=sys.stderr, flush=True)
        lines += report(name, {"op_s": times}, {k: tuple(v) for k, v in counts.items()}, bench)
    return lines


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="base revision")
    p.add_argument("--head", help="head revision (default: the working tree)")
    p.add_argument("--seeds", default="1,2,3,4,5",
                   help="comma-separated workload seeds, cycled over the pairs")
    p.add_argument("targets", nargs="+", help="perfbench workloads or registry queries")
    args = p.parse_args(argv)
    bench = load_bench()
    seeds = [int(s) for s in args.seeds.split(",")]
    workloads = {w["name"] for w in bench["workloads"]}
    print(f"base {describe(args.base)}, head {describe(args.head)}, {PAIRS} pairs")

    lines = []
    # workloads first: the query runs start a Spark session in this process
    wls = [t for t in args.targets if t in workloads]
    if wls:
        with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
            trees = {"base": os.path.join(tmp, "base"), "head": os.path.join(tmp, "head")}
            snapshot(args.base, trees["base"], bench)
            snapshot(args.head, trees["head"], bench)
            for w in wls:
                lines += ab_workload(w, trees, seeds, bench)
    queries = [t for t in args.targets if t not in workloads]
    if queries:
        sys.path.insert(0, ROOT)
        lines += ab_queries(queries, args.base, args.head, bench)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
