"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

They shrink the grid in place (the module-level size dicts) so every
workload runs end to end, traced and untraced, in a few seconds of ops.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
import workloads as W  # noqa: E402

TINY = [
    (W.GRID, {"time": 96, "lat": 8, "lon": 8}),
    (W.STORE_CHUNKS, {"time": 24}),
    (W.MEMORY_CHUNKS, {"time": 12}),
    (W.SLICE_BOX, {"time": 12, "lat": 4, "lon": 4}),
]


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Tiny grid, and a private working directory for the in-process runs."""
    saved = [dict(d) for d, _ in TINY]
    for d, small in TINY:
        d.update(small)
    cwd = os.getcwd()
    os.chdir(tmp_path_factory.mktemp("bench"))
    yield
    os.chdir(cwd)
    for (d, _), old in zip(TINY, saved):
        d.update(old)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = open(p, "rb").read()
    return out


def test_same_seed_same_store_bytes(tiny, tmp_path):
    stores = []
    for i, seed in enumerate((7, 7, 8)):
        inp = W.Inputs(W.WORKLOADS["scan_reduce"], seed, 3, str(tmp_path / f"s{i}"))
        stores.append(_files(inp.store))
    assert stores[0] == stores[1]
    assert stores[0] != stores[2]


def test_same_seed_same_oracle_answers(tiny, tmp_path):
    def answers(seed):
        out = []
        for name, wl in W.WORKLOADS.items():
            inp = W.Inputs(wl, seed, 4, str(tmp_path / f"{name}{seed}"))
            for i in range(4):
                kind = wl.cycle[i % len(wl.cycle)]
                out.append(inp.expected(kind, i))
        return out

    a, b, c = answers(5), answers(5), answers(6)
    for x, y in zip(a, b):
        for k in x["coords"]:
            assert np.array_equal(x["coords"][k], y["coords"][k])
        for k in x["vars"]:
            assert np.array_equal(x["vars"][k], y["vars"][k])
    assert any(
        not np.array_equal(x["vars"][k], z["vars"][k]) for x, z in zip(a, c) for k in x["vars"]
    )


def test_matches_rejects_a_wrong_grid(tiny):
    coords, arrays = W.grid_arrays(3)
    box = W.slice_boxes(3, 1)[0]
    want = W.oracle_slice(coords, arrays, box)
    sel = tuple(slice(*box[d]) for d in ("time", "lat", "lon"))
    c = {d: coords[d][s] for d, s in zip(("time", "lat", "lon"), sel)}
    good = W.make_dataset(c, {v: arrays[v][sel] for v in W.VARS})
    assert W.matches(good, want)
    bad_vals = {v: arrays[v][sel].copy() for v in W.VARS}
    bad_vals["u10"][0, 0, 0] += 0.5
    assert not W.matches(W.make_dataset(c, bad_vals), want)
    shifted = dict(c, lat=c["lat"] + np.float32(1))
    assert not W.matches(W.make_dataset(shifted, {v: arrays[v][sel] for v in W.VARS}), want)


BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_runs_end_to_end(tiny, capsys, workload, trace):
    assert run.main(["--workload", workload, "--seed", "1", "--seconds", "2",
                     "--trace", str(trace)]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if trace:
        assert res["metrics"]["trace.span_coverage_min"]["value"] >= 0.9
        import tracing as T

        path = os.path.join(".perfbench_work", "traces",
                            f"{workload}-seed1-{os.getpid()}.json")
        spans = json.load(open(path))["spans"]
        # the sink fetches axes itself only when the source cannot supply
        # them; the probe's rechunk is a pure scan, so its axes are known
        expected = {name for _m, _p, name in T.SPANNED} - {"zarr_sink.collect_axes"}
        assert expected <= {s["name"] for s in spans}


@pytest.mark.xfail(strict=True, raises=AssertionError,
                   reason="a reused grid scan keeps the partition "
                   "pruning of the previous filtered query")
def test_unfiltered_scan_after_filtered_scan(tiny, tmp_path):
    """Known defect at this commit, kept visible here: the benchmark's
    workloads never mix a filtered and an unfiltered query over the same
    columns of one registration, because the second returns rows of only
    the partitions the first one kept."""
    from xarray_sql_spark.session import get_spark
    from xarray_sql_spark.xr_session import XarraySession

    wl = W.WORKLOADS["scan_reduce"]
    with run.isolated(str(tmp_path / "work")):
        inp = W.Inputs(wl, 1, 1, str(tmp_path))
        spark = get_spark("perfbench-test")
        try:
            xs = XarraySession(spark)
            W.register(xs, wl, inp)
            cols = "time, lat, lon, t2m, u10"
            first = inp.coords["time"][W.STORE_CHUNKS["time"]]
            xs.sql(f"SELECT {cols} FROM era5 WHERE time < TIMESTAMP '{W._ts(first)}'").count()
            n = xs.sql(f"SELECT {cols} FROM era5").count()
        finally:
            run.stop_spark(spark)
    assert n == int(np.prod(list(W.GRID.values())))
