"""Seeded inputs, the grid workloads, and their numpy oracles.

Every input is a pure function of the seed: the grid values, the slice
boxes, and therefore every expected answer. Oracles run in numpy, outside
the timed region, and double as the benchmark's numpy arm (the SQL/array
ratios of BASELINE.md, measured on the same grid).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

# ERA5-shaped grid: 90 days of hourly steps over a global lat/lon grid,
# two float32 variables. The spatial size is a quarter of a 64 x 64 grid so
# that every run fits the benchmark's time budget on 4 cores while keeping
# the chunk counts the workloads are about (9 time chunks of 240 steps
# store-backed; 90 chunks of 24 steps in memory).
GRID = {"time": 2160, "lat": 32, "lon": 32}
VARS = ("t2m", "u10")
STORE_CHUNKS = {"time": 240}
MEMORY_CHUNKS = {"time": 24}
SLICE_BOX = {"time": 48, "lat": 16, "lon": 16}
TABLE = "era5"


def grid_arrays(seed: int, sizes: dict = GRID) -> tuple[dict, dict]:
    """(coords, {var: float32 array[time, lat, lon]}) for ``seed``.

    Latitudes descend (ERA5 order) and every coordinate is exact in
    float32, so SQL literals and numpy agree bit for bit."""
    nt, ny, nx = sizes["time"], sizes["lat"], sizes["lon"]
    rng = np.random.default_rng(seed)
    t = np.datetime64("2020-01-01T00", "ns") + np.arange(nt) * np.timedelta64(1, "h")
    dlat, dlon = 180.0 / ny, 360.0 / nx
    lat = (90.0 - dlat * (np.arange(ny) + 0.5)).astype(np.float32)
    lon = (dlon * np.arange(nx)).astype(np.float32)
    hour = (np.arange(nt) % 24)[:, None, None]
    lat_r = np.deg2rad(lat)[None, :, None]
    lon_r = np.deg2rad(lon)[None, None, :]
    t2m = (
        273.0
        + 25.0 * np.cos(lat_r)
        + 5.0 * np.sin(2 * np.pi * hour / 24 + lon_r)
        + rng.normal(0.0, 2.0, (nt, ny, nx))
    ).astype(np.float32)
    u10 = (4.0 * np.sin(2 * lat_r) + rng.normal(0.0, 3.0, (nt, ny, nx))).astype(
        np.float32
    )
    return {"time": t, "lat": lat, "lon": lon}, {"t2m": t2m, "u10": u10}


def make_dataset(coords: dict, arrays: dict):
    from xarray_sql_spark.dataset import Dataset, Variable

    dims = ("time", "lat", "lon")
    return Dataset({v: Variable(dims, arrays[v]) for v in VARS}, dict(coords))


def slice_boxes(seed: int, n: int, sizes: dict = GRID) -> list[dict]:
    """``n`` seeded boxes of SLICE_BOX cells: {dim: (start, stop)} index
    ranges. Time starts are whole hours; the box may straddle chunks."""
    rng = np.random.default_rng(seed + 1_000_003)
    out = []
    for _ in range(n):
        out.append(
            {
                d: (int(s), int(s) + SLICE_BOX[d])
                for d, s in (
                    (d, rng.integers(0, sizes[d] - SLICE_BOX[d] + 1)) for d in sizes
                )
            }
        )
    return out


# -- SQL ------------------------------------------------------------------


def _ts(t: np.datetime64) -> str:
    return str(np.datetime_as_string(t, unit="s")).replace("T", " ")


CLIMATOLOGY_SQL = (
    f"SELECT hour(time) AS hour, lat, lon, AVG(t2m) AS t2m, AVG(u10) AS u10 "
    f"FROM {TABLE} GROUP BY hour(time), lat, lon"
)
ZONAL_MEAN_SQL = f"SELECT lat, AVG(t2m) AS t2m, AVG(u10) AS u10 FROM {TABLE} GROUP BY lat"
RECHUNK_SQL = (
    f"SELECT time, lat, lon, t2m - 273.15 AS t2m_c, u10 * 2 AS u10_x2 FROM {TABLE}"
)


ANOMALY_SQL = (
    "WITH clim AS ("
    f"SELECT hour(time) AS hour, lat, lon, AVG(t2m) AS t2m, AVG(u10) AS u10 "
    f"FROM {TABLE} GROUP BY hour(time), lat, lon) "
    "SELECT e.lat, e.lon, "
    "AVG((e.t2m - c.t2m) * (e.t2m - c.t2m)) AS t2m_anom_var, "
    "AVG((e.u10 - c.u10) * (e.u10 - c.u10)) AS u10_anom_var "
    f"FROM {TABLE} e JOIN clim c "
    "ON hour(e.time) = c.hour AND e.lat = c.lat AND e.lon = c.lon "
    "GROUP BY e.lat, e.lon"
)


def slice_sql(coords: dict, box: dict) -> str:
    t0, t1 = box["time"]
    lat = coords["lat"][box["lat"][0] : box["lat"][1]]
    lon = coords["lon"][box["lon"][0] : box["lon"][1]]
    return (
        f"SELECT time, lat, lon, t2m, u10 FROM {TABLE} "
        f"WHERE time >= TIMESTAMP '{_ts(coords['time'][t0])}' "
        f"AND time < TIMESTAMP '{_ts(coords['time'][t0] + (t1 - t0) * np.timedelta64(1, 'h'))}' "
        f"AND lat BETWEEN {float(lat.min())!r} AND {float(lat.max())!r} "
        f"AND lon BETWEEN {float(lon.min())!r} AND {float(lon.max())!r}"
    )


# -- oracles (numpy arm) ----------------------------------------------------
# Each returns {"coords": {dim: ascending coords}, "vars": {name: array}}
# in ascending coordinate order, the canonical form results are compared in.


def _ascending(coords: dict, dims, arrays: dict) -> dict:
    order = {d: np.argsort(coords[d], kind="stable") for d in dims}
    out = {}
    for name, a in arrays.items():
        for axis, d in enumerate(dims):
            a = np.take(a, order[d], axis=axis)
        out[name] = a
    return {"coords": {d: np.asarray(coords[d])[order[d]] for d in dims}, "vars": out}


def _climatology(arrays: dict) -> dict:
    nt = arrays["t2m"].shape[0]
    return {
        v: arrays[v].astype(np.float64).reshape(nt // 24, 24, *arrays[v].shape[1:]).mean(0)
        for v in VARS
    }


def oracle_climatology(coords: dict, arrays: dict) -> dict:
    c = {"hour": np.arange(24, dtype=np.int32), "lat": coords["lat"], "lon": coords["lon"]}
    return _ascending(c, ("hour", "lat", "lon"), _climatology(arrays))


def oracle_zonal_mean(coords: dict, arrays: dict) -> dict:
    means = {v: arrays[v].astype(np.float64).mean(axis=(0, 2)) for v in VARS}
    return _ascending({"lat": coords["lat"]}, ("lat",), means)


def oracle_anomaly(coords: dict, arrays: dict) -> dict:
    clim = _climatology(arrays)
    hours = np.arange(arrays["t2m"].shape[0]) % 24
    var = {
        f"{v}_anom_var": ((arrays[v].astype(np.float64) - clim[v][hours]) ** 2).mean(0)
        for v in VARS
    }
    return _ascending({"lat": coords["lat"], "lon": coords["lon"]}, ("lat", "lon"), var)


def oracle_slice(coords: dict, arrays: dict, box: dict) -> dict:
    sel = tuple(slice(*box[d]) for d in ("time", "lat", "lon"))
    c = {d: coords[d][s] for d, s in zip(("time", "lat", "lon"), sel)}
    return _ascending(c, ("time", "lat", "lon"), {v: arrays[v][sel] for v in VARS})


def oracle_rechunk(coords: dict, arrays: dict) -> dict:
    out = {
        "t2m_c": arrays["t2m"].astype(np.float64) - 273.15,
        "u10_x2": arrays["u10"] * np.float32(2),
    }
    return _ascending(dict(coords), ("time", "lat", "lon"), out)


# -- result checks ----------------------------------------------------------


def matches(ds, expected: dict, rtol: float = 1e-9, atol: float = 1e-9) -> bool:
    """True when Dataset ``ds`` holds exactly the expected grid: same dims,
    same coordinates, values within float64 summation-order noise."""
    dims = tuple(expected["coords"])
    try:
        got = _ascending(
            {d: np.asarray(ds.coords[d]) for d in dims},
            dims,
            {v: np.asarray(ds.data_vars[v].values()) for v in expected["vars"]},
        )
    except (KeyError, ValueError, IndexError):
        return False
    for d in dims:
        a, b = got["coords"][d], expected["coords"][d]
        if a.shape != b.shape or not np.array_equal(a.astype(b.dtype), b):
            return False
    for v, want in expected["vars"].items():
        have = got["vars"][v]
        if have.shape != want.shape or not np.allclose(have, want, rtol=rtol, atol=atol):
            return False
    return True


# -- workloads --------------------------------------------------------------


@dataclass
class Op:
    """One client request: ``run`` is timed, ``check`` is not."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Workload:
    name: str
    # nominal ops per second on 4 cores: a run of
    # ``--seconds s`` does round(s * rate) ops, rounded up to whole cycles,
    # so the amount of work is fixed by the arguments, never by the clock
    rate: float
    cycle: tuple[str, ...]
    in_memory: bool
    chunks: dict

    def n_ops(self, seconds: float) -> int:
        n = max(1, round(seconds * self.rate))
        k = len(self.cycle)
        return -(-n // k) * k


WORKLOADS = {
    "scan_reduce": Workload(
        "scan_reduce", 0.75, ("climatology", "zonal_mean", "anomaly"),
        in_memory=False, chunks=STORE_CHUNKS,
    ),
    "interactive_slices": Workload(
        "interactive_slices", 1.2, ("slice",),
        in_memory=True, chunks=MEMORY_CHUNKS,
    ),
}


class Inputs:
    """Everything a run derives from the seed, built before set-up starts:
    the arrays, the Zarr store (when the workload reads one), the slice
    boxes, and, on demand, the expected answer of every op."""

    def __init__(self, wl: Workload, seed: int, n_ops: int, work_dir: str):
        from xarray_sql_spark.zarr_store import write_zarr

        self.seed = seed
        self.coords, self.arrays = grid_arrays(seed)
        self.store = os.path.join(work_dir, "input.zarr")
        self.write_zarr_s = 0.0
        if not wl.in_memory:
            t = time.perf_counter()
            write_zarr(make_dataset(self.coords, self.arrays), self.store, chunks=STORE_CHUNKS)
            self.write_zarr_s = time.perf_counter() - t
        # one extra box for each set-up repetition's warm-up
        self.boxes = slice_boxes(seed, n_ops + 8) if wl.cycle == ("slice",) else []
        self.numpy_s: dict[str, list[float]] = {}
        self._shared: dict[str, dict] = {}

    def _oracle(self, kind: str, fn, *args) -> dict:
        t = time.perf_counter()
        out = fn(self.coords, self.arrays, *args)
        self.numpy_s.setdefault(kind, []).append(time.perf_counter() - t)
        return out

    def expected(self, kind: str, i: int) -> dict:
        """Expected answer of op ``i`` of ``kind``. Aggregate answers do not
        depend on ``i`` and are computed (and timed) once."""
        if kind == "slice":
            return self._oracle(kind, oracle_slice, self.boxes[i])
        if kind not in self._shared:
            fn = {
                "climatology": oracle_climatology,
                "zonal_mean": oracle_zonal_mean,
                "anomaly": oracle_anomaly,
                "rechunk": oracle_rechunk,
            }[kind]
            self._shared[kind] = self._oracle(kind, fn)
        return self._shared[kind]


def register(xs, wl: Workload, inp: Inputs) -> None:
    """Register the grid the way a user would: store-backed from the Zarr
    store, or in memory as in the README quickstart."""
    from xarray_sql_spark.dataset import Dataset

    if wl.in_memory:
        xs.from_dataset(TABLE, make_dataset(inp.coords, inp.arrays), chunks=wl.chunks)
    else:
        xs.from_dataset(TABLE, Dataset.open_store(inp.store), chunks=wl.chunks, store=inp.store)


def make_op(xs, inp: Inputs, kind: str, i: int, out_dir: str) -> Op:
    """Op ``i`` of ``kind`` against session ``xs``. ``i`` selects the slice
    box and the output path; aggregate ops are the same query every time."""
    if kind == "slice":
        q, dims = slice_sql(inp.coords, inp.boxes[i]), ["time", "lat", "lon"]
    elif kind == "climatology":
        q, dims = CLIMATOLOGY_SQL, ["hour", "lat", "lon"]
    elif kind == "zonal_mean":
        q, dims = ZONAL_MEAN_SQL, ["lat"]
    elif kind == "anomaly":
        q, dims = ANOMALY_SQL, ["lat", "lon"]
    elif kind == "rechunk":
        return _rechunk_op(xs, inp, i, out_dir)
    else:
        raise ValueError(kind)

    def run():
        return xs.sql(q).to_dataset(dims=dims)

    return Op(kind, run, lambda ds: matches(ds, inp.expected(kind, i)))


def _rechunk_op(xs, inp: Inputs, i: int, out_dir: str) -> Op:
    from xarray_sql_spark.zarr_store import open_zarr

    path = os.path.join(out_dir, f"rechunk_{i}.zarr")
    lat_chunk = GRID["lat"] // 4

    def run():
        xs.sql(RECHUNK_SQL).to_zarr_distributed(
            path, dims=["time", "lat", "lon"], chunks={"lat": lat_chunk}
        )
        ds = open_zarr(path)
        # the reopen reads every chunk back, as a consumer of the store would
        return type(ds)(
            {v: (ds.data_vars[v].dims, ds.data_vars[v].values()) for v in ds.data_vars},
            ds.coords,
        )

    def check(ds) -> bool:
        try:
            return matches(ds, inp.expected("rechunk", i), rtol=0, atol=1e-9)
        finally:
            shutil.rmtree(path, ignore_errors=True)

    return Op("rechunk", run, check)
