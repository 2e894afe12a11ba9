#!/usr/bin/env python3
"""Same-code steadiness check: run every workload on several seeds and
print each end-to-end metric's median, quartiles and quartile spread
(IQR / median, Python's ``statistics.quantiles(n=4)``) beside its bound.

    python3 perfbench/steadiness.py --seeds 10 [--workloads scan_reduce ...]

Run from the repository root. Appends one JSON line per run to
``.perfbench_work/steadiness.jsonl`` so two sets can be compared later,
with the share of CPU time the hypervisor stole during the run: on a
shared VM that share, not the code, is what moves between sets.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def spreads(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    args = p.parse_args()
    log = os.path.join(".perfbench_work", "steadiness.jsonl")
    os.makedirs(".perfbench_work", exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t, (steal0, total0) = time.time(), cpu_ticks()
            out = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True,
            )
            wall, (steal1, total1) = time.time() - t, cpu_ticks()
            steal = (steal1 - steal0) / max(1, total1 - total0)
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": wl, "seed": seed,
                                    "wall_s": wall, "steal_frac": steal, **res}) + "\n")
            if not res["correct"] or res["failed"]:
                print(f"{wl} seed {seed}: incorrect output", file=sys.stderr)
                return 1
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed} wall {wall:.1f}s steal {steal:.3f} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        for k, vs in values.items():
            s = spreads(vs)
            print(f"{wl:20s} {k:20s} median {s['median']:.4g} q1 {s['q1']:.4g} "
                  f"q3 {s['q3']:.4g} spread {s['spread']:.3f} bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
