"""Leaf partial aggregation (``sources/partials.py``), dense lookup joins
and block packing.

Every partial-path answer is checked against the engine's answer for the
same query on the same session with ``metadata_aggregates = False``. The
read log tells the paths apart: a partial read's columns are the partial
columns (``_k0``, ``_s0``, ...), never the table's; a lookup join reads its
small side inside ``sql()`` and its big side only when collected."""

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
                if math.isnan(x) or math.isnan(y):
                    if not (math.isnan(x) and math.isnan(y)):
                        return False
                elif not math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def _compare(xs, read_log, q: str, ordered: bool = False) -> tuple[list, list[dict]]:
    """Partial-path rows, and the read records of the partial run; asserts
    the engine agrees (values, and schema names, types and nullability).
    ``ordered``: compare the rows in the order the query returns them."""
    rows = (lambda df: [tuple(r) for r in df.collect()]) if ordered else _rows
    fast_df = xs.sql(q).df
    fast = rows(fast_df)
    logs = read_log.drain()
    xs.metadata_aggregates = False
    try:
        slow_df = xs.sql(q).df
        slow = rows(slow_df)
    finally:
        xs.metadata_aggregates = True
    read_log.drain()
    assert [(f.name, f.dataType, f.nullable) for f in fast_df.schema] == [
        (f.name, f.dataType, f.nullable) for f in slow_df.schema
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
        # a Limit above the sort
        "SELECT lat, AVG(a) m FROM pa_fb GROUP BY lat ORDER BY lat LIMIT 2",
        # integer SUM
        "SELECT lat, SUM(k) s FROM pa_fb GROUP BY lat",
        # a data-variable filter
        "SELECT lat, AVG(a) m FROM pa_fb WHERE b > 0 GROUP BY lat",
        # a join
        "SELECT x.lat, AVG(x.a) m FROM pa_fb x JOIN pa_fb y "
        "ON x.time = y.time AND x.lat = y.lat AND x.lon = y.lon GROUP BY x.lat",
        # HAVING over an aggregate the reader cannot answer
        "SELECT lat, AVG(a) m FROM pa_fb GROUP BY lat HAVING SUM(k) > 0",
        # division by a column (Spark's x / 0 is NULL, numpy's inf)
        "SELECT lat, AVG(a / b) m FROM pa_fb GROUP BY lat",
        # a function outside + - * /
        "SELECT lat, AVG(abs(a)) m FROM pa_fb GROUP BY lat",
    ],
)
def test_fallbacks_run_the_engine(xs, read_log, q):
    xs.from_dataset("pa_fb", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    assert xs._with_metadata_aggregates(xs.spark.sql(q)) is None
    _rows_, logs = _compare(xs, read_log, q)
    assert logs and not _is_partial(logs)


# --- expression aggregates, ORDER BY and HAVING --------------------------------
EXPRS = {
    "add": "a + b",
    "sub": "a - 280.5",
    "mul_float32": "a * a",
    "mul_literal": "a * 2",
    "mul_float64": "b * 2.0",
    "neg": "-a",
    "div": "b / 4.0",
    "cast": "CAST(a AS DOUBLE) - CAST(-a AS DOUBLE)",
    "nested": "(a - b) * 2.5 + -b / -3",
}


@pytest.mark.parametrize("name", sorted(EXPRS))
def test_expression_aggregates_match_the_engine(xs, read_log, name):
    """Each expression op over the float32 ``a`` and the float64 ``b``,
    under every aggregate (MIN/MAX of a float32 expression stay float)."""
    xs.from_dataset("pa_ex", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    e = EXPRS[name]
    rows, logs = _compare(
        xs, read_log,
        f"SELECT lat, SUM({e}) s, AVG({e}) m, MIN({e}) lo, MAX({e}) hi, COUNT({e}) n, "
        f"COUNT(*) c FROM pa_ex GROUP BY lat",
    )
    assert rows and _is_partial(logs)


def test_computed_nan_is_a_value_and_null_is_not(xs, read_log):
    """inf - inf is NaN in Spark, not NULL: it counts, poisons SUM/AVG and
    MAX, and is a MIN only of a group holding nothing else. NaN cells stay
    NULL through every expression, and float32 overflow is float32's."""
    time = np.datetime64("2021-01-01T00", "ns") + np.arange(6) * np.timedelta64(1, "h")
    p = np.array([[1.0, np.inf], [np.inf, np.nan], [-np.inf, 2.0], [3e38, np.nan],
                  [np.inf, np.inf], [np.nan, np.nan]], dtype=np.float32)
    q = np.array([[1.0, 2.0], [np.inf, 0.5], [np.nan, -1.0], [1.0, 1.0],
                  [np.inf, -np.inf], [np.nan, 4.0]])
    ds = Dataset(
        {"p": Variable(("time", "x"), p), "q": Variable(("time", "x"), q)},
        {"time": time, "x": np.array([0, 1], dtype=np.int64)},
    )
    xs.from_dataset("pa_inf", ds, chunks={"time": 2}, read_log_dir=read_log.dir)
    read_log.drain()
    for e in ("p - p", "p * p", "p + q", "q - q", "p * 0.0", "-p + p"):
        rows, logs = _compare(
            xs, read_log,
            f"SELECT x, SUM({e}) s, AVG({e}) m, MIN({e}) lo, MAX({e}) hi, COUNT({e}) n "
            f"FROM pa_inf GROUP BY x",
        )
        assert _is_partial(logs), e
    rows, _logs = _compare(xs, read_log, "SELECT MAX(p - p) hi, MIN(p - p) lo FROM pa_inf")
    assert math.isnan(rows[0][0]) and rows[0][1] == 0.0


@pytest.mark.parametrize(
    "q",
    [
        "SELECT lat, AVG(a) m FROM pa_so GROUP BY lat ORDER BY lat",
        "SELECT lat, AVG(a) m FROM pa_so GROUP BY lat ORDER BY m DESC NULLS LAST, lat",
        "SELECT lat, AVG(a) m FROM pa_so GROUP BY lat HAVING AVG(a) > 0",
        "SELECT lat, AVG(a) m FROM pa_so GROUP BY lat HAVING MAX(b) > 0 ORDER BY m DESC",
        "SELECT hour(time) h, SUM(b) s FROM pa_so GROUP BY 1 "
        "HAVING SUM(b) > -1 AND NOT (h IN (3, 4)) OR h = 4 ORDER BY s",
    ],
)
def test_sort_and_having_run_over_the_merged_groups(xs, read_log, q):
    xs.from_dataset("pa_so", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    rows, logs = _compare(xs, read_log, q, ordered="ORDER BY" in q)
    assert rows and _is_partial(logs)


# --- dense lookup joins ----------------------------------------------------------
ANOMALY = (
    "WITH clim AS (SELECT hour(time) AS h, lat, lon, AVG(a) AS a, AVG(b) AS b "
    "FROM {t} {where} GROUP BY hour(time), lat, lon) "
    "SELECT e.lat, e.lon, AVG((e.a - c.a) * (e.a - c.a)) AS va, "
    "AVG((e.b - c.b) * (e.b - c.b)) AS vb, SUM(e.a * c.b) AS x, MIN(e.a - c.a) AS lo, "
    "MAX(-c.b) AS hi, COUNT(*) AS n "
    "FROM {t} e JOIN clim c ON hour(e.time) = c.h AND e.lat = c.lat AND e.lon = c.lon "
    "GROUP BY e.lat, e.lon"
)


def _lookup_reads(xs, read_log, q: str, nblocks: int) -> list:
    """Runs ``q`` on the lookup path and checks its read-log signature: the
    small side's blocks are read inside ``sql()``, the big side's only
    when the result is collected, both as partial reads."""
    df = xs.sql(q).df
    small = read_log.drain()
    assert len(small) == nblocks and _is_partial(small)
    rows = _rows(df)
    big = read_log.drain()
    assert len(big) == nblocks and _is_partial(big)
    assert {tuple(r["columns"]) for r in big} != {tuple(r["columns"]) for r in small}
    return rows


@pytest.mark.parametrize("backing", ["memory", "store"])
def test_anomaly_self_join_runs_as_a_lookup(xs, read_log, tmp_path, backing):
    ds = grid()
    if backing == "store":
        path = write_zarr(ds, str(tmp_path / "an.zarr"), chunks={"time": 24})
        xs.from_dataset("pa_an", Dataset.open_store(path), chunks={"time": 24}, store=path,
                        read_log_dir=read_log.dir)
    else:
        xs.from_dataset("pa_an", ds, chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    q = ANOMALY.format(t="pa_an", where="")
    rows = _lookup_reads(xs, read_log, q, 3)
    fast, _logs = _compare(xs, read_log, q)
    assert _same(rows, fast)
    assert all(r[-1] == 72 for r in rows)  # every cell matched


def test_every_scan_reads_the_one_registered_payload(spark, read_log):
    """A projection, a GROUP BY and three lookup joins over one in-memory
    table: the session directory holds one payload (the only file with the
    Dataset); every other file is an aggregate dict alone."""
    import pickle

    xs = XarraySession(spark)
    xs.from_dataset("pa_one", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    xs.sql("SELECT time, lat, lon, a FROM pa_one WHERE lat > 0").df.collect()
    assert {tuple(r["vars_read"]) for r in read_log.drain() if r["partition"] >= 0} == {("a",)}
    _compare(xs, read_log, "SELECT lat, AVG(a) m FROM pa_one GROUP BY lat")
    for where in ("", "WHERE hour(time) < 6", "WHERE lat < 0"):
        _lookup_reads(xs, read_log, ANOMALY.format(t="pa_one", where=where), 3)

    objs = []
    for name in os.listdir(xs._tmpdir):
        with open(os.path.join(xs._tmpdir, name), "rb") as f:
            objs.append(pickle.load(f))
    payloads = [o for o in objs if isinstance(o.get("dataset"), Dataset)]
    assert len(payloads) == 1
    aggregates = [o for o in objs if o is not payloads[0]]
    assert len(aggregates) >= 1 + 3 * 2
    assert all(
        set(o) == {"keys", "key_nullable", "stats", "rows", "masks", "lookup"}
        for o in aggregates
    )


def test_repeated_lookup_join_writes_its_aggregate_once(spark, read_log):
    """Aggregate files are named by their bytes: the same lookup join run
    three times leaves exactly one aggregate file with its small side's
    values, and the answers agree."""
    import pickle

    xs = XarraySession(spark)
    xs.from_dataset("pa_rep", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    q = ANOMALY.format(t="pa_rep", where="")
    first = _lookup_reads(xs, read_log, q, 3)
    files = sorted(os.listdir(xs._tmpdir))
    for _ in range(2):
        assert _same(_lookup_reads(xs, read_log, q, 3), first)
    assert sorted(os.listdir(xs._tmpdir)) == files

    def load(name):
        with open(os.path.join(xs._tmpdir, name), "rb") as f:
            return pickle.load(f)

    assert len([n for n in files if n.startswith("aggregate_") and load(n)["lookup"]]) == 1


def test_failed_aggregate_write_leaves_no_named_file(spark, monkeypatch):
    """An aggregate file appears under its content name only once it is
    complete: a write that fails leaves nothing a later equal aggregate
    would reuse."""
    import pickle

    xs = XarraySession(spark)

    def full_disk(*_args):
        raise OSError(28, "No space left on device")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", full_disk)
        with pytest.raises(OSError):
            xs._aggregate_file({"masks": {}})
    assert not [n for n in os.listdir(xs._tmpdir) if n.startswith("aggregate_")]
    with open(xs._aggregate_file({"masks": {}}), "rb") as f:
        assert pickle.load(f) == {"masks": {}}


def test_missing_keys_drop_cells(xs, read_log):
    """A small side filtered to hours 0-5 holds a quarter of the keys: the
    other cells have no match and are not rows, so COUNT(*) skips them."""
    xs.from_dataset("pa_mk", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    q = ANOMALY.format(t="pa_mk", where="WHERE hour(time) < 6")
    _lookup_reads(xs, read_log, q, 3)
    rows, _logs = _compare(xs, read_log, q)
    assert rows and all(r[-1] == 3 * 6 for r in rows)
    # no key at all: an empty grouped result, and a global row of NULLs
    q = ANOMALY.format(t="pa_mk", where="WHERE lat > 50")
    assert _compare(xs, read_log, q)[0] == []
    rows, _logs = _compare(
        xs, read_log,
        "WITH c AS (SELECT lat, AVG(a) m FROM pa_mk WHERE lat > 50 GROUP BY lat) "
        "SELECT SUM(e.a - c.m) s, COUNT(*) n FROM pa_mk e JOIN c ON e.lat = c.lat",
    )
    assert rows == [(None, 0)]


def test_small_side_from_a_second_grid(xs, read_log):
    g = grid()
    w = np.arange(12, dtype=np.float64).reshape(4, 3) - 5.0
    w[0, 0] = np.nan  # a NULL small-side value
    xs.from_dataset("pa_big", g, chunks={"time": 24}, read_log_dir=read_log.dir)
    xs.from_dataset(
        "pa_w", Dataset({"w": Variable(("lat", "lon"), w)},
                        {"lat": g.coords["lat"], "lon": g.coords["lon"]}),
        read_log_dir=read_log.dir,
    )
    read_log.drain()
    q = (
        "WITH s AS (SELECT lat, lon, AVG(w) AS w FROM pa_w GROUP BY lat, lon) "
        "SELECT hour(e.time) h, SUM(e.b * s.w) x, AVG(e.a + s.w) m, COUNT(*) n "
        "FROM pa_big e JOIN s ON e.lat = s.lat AND e.lon = s.lon "
        "WHERE e.time >= TIMESTAMP '2021-03-02 00:00:00' GROUP BY 1 HAVING COUNT(*) > 0 "
        "ORDER BY h"
    )
    df = xs.sql(q).df
    assert len(read_log.drain()) == 1  # the small grid: one block
    fast = [tuple(r) for r in df.collect()]
    assert _is_partial(read_log.drain())
    rows, _logs = _compare(xs, read_log, q, ordered=True)
    assert _same(fast, rows) and len(rows) == 24


@pytest.mark.parametrize(
    "q",
    [
        # LEFT and FULL OUTER joins keep unmatched cells
        ANOMALY.format(t="pa_jf", where="WHERE hour(time) < 6").replace(" JOIN ", " LEFT JOIN "),
        ANOMALY.format(t="pa_jf", where="").replace(" JOIN ", " FULL OUTER JOIN "),
        # an extra non-equi condition
        ANOMALY.format(t="pa_jf", where="").replace("e.lon = c.lon", "e.lon = c.lon AND e.a > c.a"),
        # the small side grouped by more keys than are joined: duplicate keys
        "WITH c AS (SELECT lat, lon, AVG(a) AS a FROM pa_jf GROUP BY lat, lon) "
        "SELECT e.time, SUM(e.a - c.a) s FROM pa_jf e JOIN c ON e.lat = c.lat GROUP BY e.time",
        # a raw-scan small side
        "SELECT e.lat, SUM(e.a - c.b) s FROM pa_jf e JOIN pa_jf c "
        "ON e.time = c.time AND e.lat = c.lat AND e.lon = c.lon GROUP BY e.lat",
    ],
)
def test_lookup_fallbacks_run_the_engine(xs, read_log, q):
    xs.from_dataset("pa_jf", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    assert xs._with_metadata_aggregates(xs.spark.sql(q)) is None
    assert read_log.drain() == []  # no small side ran
    _rows_, logs = _compare(xs, read_log, q)
    assert logs and not _is_partial(logs)


def test_lookup_needs_a_broadcast_sized_key_space(xs, spark, read_log):
    xs.from_dataset("pa_th", grid(), chunks={"time": 24}, read_log_dir=read_log.dir)
    read_log.drain()
    q = ANOMALY.format(t="pa_th", where="")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # 24 hours x 4 lats x 3 lons, 2 small-side value columns of 8 B
        for threshold in ("-1", str(24 * 4 * 3 * 2 * 8 - 1)):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            assert xs._with_metadata_aggregates(xs.spark.sql(q)) is None, threshold
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(24 * 4 * 3 * 2 * 8))
        assert xs._with_metadata_aggregates(xs.spark.sql(q)) is not None
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    read_log.drain()


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
def test_nine_blocks_pack_into_one_task_per_core(
    xs, spark, read_log, tmp_path, monkeypatch
):
    """9 store blocks run as min(9, cores) tasks when opening a block costs
    nothing, and each block still writes its own read record with its own
    block index."""
    from xarray_sql_spark import xr_session

    ds = grid(nt=72)
    path = write_zarr(ds, str(tmp_path / "p.zarr"), chunks={"time": 8})
    # the reader plans in a Python worker: the zero open cost rides in the
    # registered payload
    make_payload = xr_session.make_payload
    monkeypatch.setattr(
        xr_session, "make_payload", lambda **kw: {**make_payload(**kw), "open_cost_bytes": 0}
    )
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
