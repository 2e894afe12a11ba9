"""Leaf partial aggregation (``sources/partials.py``) and block packing.

Every partial-path answer is checked against the engine's answer for the
same query on the same session with ``metadata_aggregates = False``. The
read log tells the two paths apart: a partial read's columns are the
partial columns (``_k0``, ``_s0``, ...), never the table's."""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np
import pytest

from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.sources import partials
from xarray_sql_spark.xr_session import XarraySession
from xarray_sql_spark.zarr_store import write_zarr


@pytest.fixture(scope="module")
def xs(spark):
    return XarraySession(spark)


@pytest.fixture(autouse=True)
def _reset_shortcuts(xs):
    xs.metadata_aggregates = True
    yield
    xs.metadata_aggregates = True


class ReadLog:
    def __init__(self, d: str):
        self.dir = d

    def drain(self) -> list[dict]:
        paths = sorted(glob.glob(os.path.join(self.dir, "*.json")))
        out = [json.load(open(p)) for p in paths]
        for p in paths:
            os.remove(p)
        return out


@pytest.fixture()
def read_log(tmp_path):
    d = tmp_path / "log"
    d.mkdir()
    return ReadLog(str(d))


def grid(t0: str = "2021-03-01T00", nt: int = 72) -> Dataset:
    """time x lat x lon with NaN cells and one all-NaN latitude row. ``a``
    is float32, ``b`` float64, ``k`` int64 (never partial-aggregated)."""
    time = np.datetime64(t0, "ns") + np.arange(nt) * np.timedelta64(1, "h")
    lat = np.array([30.0, 10.0, -10.0, -30.0], dtype=np.float32)  # descending
    lon = np.array([0.0, 120.0, 240.0], dtype=np.float32)
    rng = np.random.default_rng(7)
    a = rng.normal(280.0, 5.0, (nt, 4, 3)).astype(np.float32)
    a[rng.random(a.shape) < 0.15] = np.nan
    a[:, 1, :] = np.nan  # lat 10: no valid value at all
    b = rng.normal(0.0, 1.0, (nt, 4, 3))
    b[rng.random(b.shape) < 0.1] = np.nan
    k = np.arange(nt * 12, dtype=np.int64).reshape(nt, 4, 3)
    dims = ("time", "lat", "lon")
    return Dataset(
        {"a": Variable(dims, a), "b": Variable(dims, b), "k": Variable(dims, k)},
        {"time": time, "lat": lat, "lon": lon},
    )


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _same(fast: list[tuple], slow: list[tuple]) -> bool:
    if len(fast) != len(slow):
        return False
    for r1, r2 in zip(fast, slow):
        for x, y in zip(r1, r2):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def _compare(xs, read_log, q: str) -> tuple[list, list[dict]]:
    """Partial-path rows, and the read records of the partial run; asserts
    the engine agrees (values and schema names/types)."""
    fast_df = xs.sql(q).df
    fast = _rows(fast_df)
    logs = read_log.drain()
    xs.metadata_aggregates = False
    try:
        slow_df = xs.sql(q).df
        slow = _rows(slow_df)
    finally:
        xs.metadata_aggregates = True
    read_log.drain()
    assert [(f.name, f.dataType) for f in fast_df.schema] == [
        (f.name, f.dataType) for f in slow_df.schema
    ], q
    assert _same(fast, slow), (q, fast[:3], slow[:3])
    return fast, logs


def _is_partial(logs: list[dict]) -> bool:
    data = [rec for rec in logs if rec["partition"] >= 0]
    return bool(data) and all(
        all(c.startswith("_") for c in rec["columns"]) for rec in data
    )


KEYS = {
    "dim": ("lat", "lat"),
    "hour": ("hour(time)", "hour(time)"),
    "dayofmonth": ("dayofmonth(time)", "dayofmonth(time)"),
    "month": ("month(time)", "month(time)"),
    "year": ("year(time)", "year(time)"),
    "dayofyear": ("dayofyear(time)", "dayofyear(time)"),
}
AGGS = ("SUM(a)", "AVG(a)", "MIN(a)", "MAX(a)", "COUNT(a)", "COUNT(*)",
        "SUM(b)", "AVG(b)", "MIN(b)", "MAX(b)")


@pytest.mark.parametrize("key", sorted(KEYS))
def test_each_aggregate_by_each_key_kind(xs, read_log, key):
    xs.from_dataset("pa_grid", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    expr, group = KEYS[key]
    sel = ", ".join(f"{a} AS x{i}" for i, a in enumerate(AGGS))
    rows, logs = _compare(
        xs, read_log, f"SELECT {expr} AS g, {sel} FROM pa_grid GROUP BY {group}"
    )
    assert rows and _is_partial(logs)


def test_global_and_multi_key_aggregates(xs, read_log):
    xs.from_dataset("pa_glob", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    for q in (
        "SELECT SUM(a) s, AVG(b) m, MIN(a) lo, MAX(b) hi, COUNT(*) n FROM pa_glob",
        "SELECT hour(time) AS h, lat, lon, AVG(a) AS a, AVG(b) AS b "
        "FROM pa_glob GROUP BY hour(time), lat, lon",
        "SELECT month(time) m, hour(time) h, lon, COUNT(*) n, SUM(b) s "
        "FROM pa_glob GROUP BY 1, 2, 3",
        # keys only (DISTINCT-like) and a key selected twice
        "SELECT lat FROM pa_glob GROUP BY lat",
        "SELECT lat, lat AS lat2, MAX(a) mx FROM pa_glob GROUP BY lat",
    ):
        _rows_, logs = _compare(xs, read_log, q)
        assert _is_partial(logs), q


def test_nan_and_all_nan_groups_are_null_under_ansi(xs, spark, read_log):
    """lat 10 holds only NaN cells: SUM/AVG/MIN/MAX are NULL and COUNT(a)
    is 0 there, as in the engine (NaN pivots to SQL NULL) — also with ANSI
    on, where a bare sum/count division would raise."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        xs.from_dataset("pa_nan", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
        read_log.drain()
        rows, logs = _compare(
            xs, read_log,
            "SELECT lat, SUM(a) s, AVG(a) m, MIN(a) lo, MAX(a) hi, COUNT(a) n, "
            "COUNT(*) c FROM pa_nan GROUP BY lat",
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert _is_partial(logs)
    by_lat = {r[0]: r[1:] for r in rows}
    assert by_lat[10.0] == (None, None, None, None, 0, 72 * 3)
    assert all(v is not None for v in by_lat[30.0])


def test_dim_filters_prune_blocks(xs, read_log):
    xs.from_dataset("pa_filt", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    # only the last 24-step block has matching cells: the others are
    # never read
    _r, logs = _compare(
        xs, read_log,
        "SELECT hour(time) h, AVG(a) m, COUNT(*) n FROM pa_filt "
        "WHERE time >= TIMESTAMP '2021-03-03 06:00:00' AND lat < 0 "
        "AND lon IN (0.0, 240.0) GROUP BY hour(time)",
    )
    assert _is_partial(logs)
    assert sorted(rec["partition"] for rec in logs) == [2]
    # a filter no block satisfies: one empty sentinel read; the global
    # aggregate still returns its single row of NULLs and zero counts
    rows, logs = _compare(
        xs, read_log,
        "SELECT SUM(a) s, COUNT(*) n, COUNT(b) nb FROM pa_filt WHERE lat > 50",
    )
    assert rows == [(None, 0, 0)]
    assert [rec["partition"] for rec in logs] == [-1]
    rows, _logs = _compare(
        xs, read_log, "SELECT lat, SUM(a) s FROM pa_filt WHERE lat > 50 GROUP BY lat"
    )
    assert rows == []


def test_store_backed_and_pre_1970(xs, read_log, tmp_path):
    """A store-backed registration of a grid that starts before the epoch:
    datetime keys of negative timestamps match the engine."""
    ds = grid("1969-12-30T20", nt=60)
    path = write_zarr(ds, str(tmp_path / "g.zarr"), chunks={"time": 12})
    xs.from_dataset(
        "pa_store", Dataset.open_store(path), chunks={"time": 12}, store=path,
        read_log_dir=read_log.dir,
    )
    read_log.drain()
    for q in (
        "SELECT year(time) y, month(time) m, dayofmonth(time) d, dayofyear(time) j, "
        "hour(time) h, AVG(a) aa, SUM(b) sb, COUNT(*) n FROM pa_store GROUP BY 1, 2, 3, 4, 5",
        "SELECT time, MIN(a) lo FROM pa_store "
        "WHERE time < TIMESTAMP '1970-01-01 03:00:00' GROUP BY time",
    ):
        rows, logs = _compare(xs, read_log, q)
        assert rows and _is_partial(logs), q
    assert min(r[0] for r in _compare(
        xs, read_log, "SELECT year(time) y, COUNT(*) n FROM pa_store GROUP BY 1"
    )[0]) == 1969


def test_partial_scan_is_cached_but_every_query_rereads(xs, read_log):
    xs.from_dataset("pa_fresh", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    q = "SELECT lat, AVG(a) m FROM pa_fresh GROUP BY lat"
    before = len(xs._pruned_cache)
    df = xs.sql(q).df
    assert read_log.drain() == []  # planning reads nothing
    df.collect()
    assert len(read_log.drain()) == 3
    xs.sql(q).df.collect()
    assert len(read_log.drain()) == 3  # a fresh sql() call re-reads
    assert len(xs._pruned_cache) == before + 1  # one partial scan for both


@pytest.mark.parametrize(
    "q",
    [
        # Sort above the aggregate
        "SELECT lat, AVG(a) m FROM pa_fb GROUP BY lat ORDER BY lat",
        # integer SUM
        "SELECT lat, SUM(k) s FROM pa_fb GROUP BY lat",
        # a data-variable filter
        "SELECT lat, AVG(a) m FROM pa_fb WHERE b > 0 GROUP BY lat",
        # a join
        "SELECT x.lat, AVG(x.a) m FROM pa_fb x JOIN pa_fb y "
        "ON x.time = y.time AND x.lat = y.lat AND x.lon = y.lon GROUP BY x.lat",
        # HAVING (a Filter above the aggregate)
        "SELECT lat, AVG(a) m FROM pa_fb GROUP BY lat HAVING AVG(a) > 0",
        # an aggregate of an expression
        "SELECT lat, AVG(a * 2) m FROM pa_fb GROUP BY lat",
    ],
)
def test_fallbacks_run_the_engine(xs, read_log, q):
    xs.from_dataset("pa_fb", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    assert xs._with_metadata_aggregates(xs.spark.sql(q)) is None
    _rows_, logs = _compare(xs, read_log, q)
    assert logs and not _is_partial(logs)


# --- numpy block reduction -----------------------------------------------------
def test_datetime_fields_match_calendar_before_and_after_epoch():
    t = np.array(
        ["1969-12-31T23:30", "1900-02-28T05:00", "2020-03-01T00:59:59.999999",
         "2024-12-31T12:00"],
        dtype="datetime64[us]",
    )
    assert partials.datetime_field(t, "hour").tolist() == [23, 5, 0, 12]
    assert partials.datetime_field(t, "dayofmonth").tolist() == [31, 28, 1, 31]
    assert partials.datetime_field(t, "month").tolist() == [12, 2, 3, 12]
    assert partials.datetime_field(t, "year").tolist() == [1969, 1900, 2020, 2024]
    assert partials.datetime_field(t, "dayofyear").tolist() == [365, 59, 61, 366]


# --- block packing -------------------------------------------------------------
def test_nine_blocks_pack_into_one_task_per_core(xs, spark, read_log, tmp_path):
    """9 store blocks run as min(9, cores) tasks, and each block still
    writes its own read record with its own block index."""
    ds = grid(nt=72)
    path = write_zarr(ds, str(tmp_path / "p.zarr"), chunks={"time": 8})
    xs.from_dataset(
        "pk_grid", Dataset.open_store(path), chunks={"time": 8}, store=path,
        read_log_dir=read_log.dir,
    )
    read_log.drain()
    df = xs.sql("SELECT * FROM pk_grid").df
    cores = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(9, cores)
    read_log.drain()  # the partition count above planned only
    assert df.count() == 72 * 12
    logs = read_log.drain()
    assert sorted(rec["partition"] for rec in logs) == list(range(9))
    assert sorted(tuple(rec["block"]["time"]) for rec in logs) == [
        (8 * i, 8 * i + 8) for i in range(9)
    ]
