"""End-to-end grid engine tests: registration, laziness, pruning, projection
pushdown, NaN semantics, namespaces, round-trip (reference test strategy
layers 2-4, SURVEY.md §5; fixtures from FIXTURES.md)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import numpy as np
import pytest

from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.xr_session import XarraySession


@pytest.fixture(scope="module")
def xs(spark):
    return XarraySession(spark)


@pytest.fixture(autouse=True)
def _reset_metadata_aggregates(xs):
    # the session is module-scoped; tests that pin the SCAN path flip the
    # statistics-aggregate shortcut off, so restore the default per test
    xs.metadata_aggregates = True
    yield
    xs.metadata_aggregates = True


@pytest.fixture()
def read_log(tmp_path):
    d = str(tmp_path / "readlog")
    os.mkdir(d)

    class Log:
        dir = d

        def drain(self):
            out = [json.load(open(p)) for p in sorted(glob.glob(d + "/*.json"))]
            for p in glob.glob(d + "/*.json"):
                os.remove(p)
            return out

    return Log()


def air_small() -> Dataset:
    """FIXTURES.md F1 small: 12x11x10, lat descending."""
    time = np.arange("2013-01-01T00", "2013-01-01T12", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    lat = (75.0 - 2.5 * np.arange(11)).astype(np.float32)
    lon = (200.0 + 2.5 * np.arange(10)).astype(np.float32)
    rng = np.random.default_rng(42)
    air = rng.normal(280, 10, (12, 11, 10)).astype(np.float32)
    return Dataset(
        {"air": Variable(("time", "lat", "lon"), air, {"units": "K"})},
        {"time": time, "lat": lat, "lon": lon},
        attrs={"title": "air_small"},
    )


# --- laziness + fresh stream per query (reference test_reader.py:109-161,869-945)
def test_zero_reads_at_registration_and_planning(xs, read_log):
    xs.from_dataset("lazy_air", air_small(), chunks={"time": 4}, read_log_dir=read_log.dir)
    assert read_log.drain() == []
    df = xs.sql("SELECT AVG(air) AS a FROM lazy_air").df
    assert read_log.drain() == []  # planning triggers no reads
    df.collect()
    assert len(read_log.drain()) == 3
    # Fresh stream per query: a new sql() call re-executes the scan.
    # (Re-collecting the SAME DataFrame may legitimately reuse shuffle
    # output — Spark stage reuse — without re-reading the source.)
    df2 = xs.sql("SELECT AVG(air) AS a FROM lazy_air").df
    df2.collect()
    assert len(read_log.drain()) == 3


# --- pruning golden counts (FIXTURES.md F10) -------------------------------
def prune_fixture() -> Dataset:
    time = np.arange("2020-01-01", "2020-04-10", dtype="datetime64[D]").astype("datetime64[ns]")
    assert len(time) == 100
    lat = np.linspace(-90, 90, 5)
    rng = np.random.default_rng(0)
    temp = rng.normal(15, 5, (100, 5)).astype(np.float32)
    return Dataset({"temperature": (("time", "lat"), temp)}, {"time": time, "lat": lat})


def test_time_pruning_golden(xs, read_log):
    xs.from_dataset("prune_t", prune_fixture(), chunks={"time": 25}, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    n = xs.sql(
        "SELECT COUNT(*) AS n FROM prune_t WHERE time >= TIMESTAMP '2020-03-16'"
    ).df.collect()[0]["n"]
    logs = read_log.drain()
    assert n == 25 * 5  # last chunk only
    assert len([l for l in logs if l["partition"] >= 0]) == 1


def test_lat_pruning_golden(xs, read_log):
    ds = prune_fixture()
    xs.from_dataset("prune_l", ds, chunks={"lat": 2}, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    n = xs.sql("SELECT COUNT(*) AS n FROM prune_l WHERE lat < 0").df.collect()[0]["n"]
    logs = read_log.drain()
    assert n == 100 * 2  # lats -90, -45
    assert len([l for l in logs if l["partition"] >= 0]) == 1  # chunk [-90,-45]


def test_unsatisfiable_filter_reads_nothing(xs, read_log):
    xs.from_dataset("prune_e", prune_fixture(), chunks={"time": 25}, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    n = xs.sql("SELECT COUNT(*) AS n FROM prune_e WHERE lat > 100").df.collect()[0]["n"]
    logs = read_log.drain()
    assert n == 0
    assert [l["partition"] for l in logs] == [-1]  # sentinel only, zero data reads


def test_between_and_in_prune(xs, read_log):
    xs.from_dataset("prune_b", prune_fixture(), chunks={"time": 25}, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    n = xs.sql(
        "SELECT COUNT(*) AS n FROM prune_b "
        "WHERE time BETWEEN TIMESTAMP '2020-01-01' AND TIMESTAMP '2020-01-10'"
    ).df.collect()[0]["n"]
    logs = read_log.drain()
    assert n == 10 * 5
    assert len([l for l in logs if l["partition"] >= 0]) == 1


@pytest.mark.parametrize("backing", ["memory", "store"])
def test_non_monotonic_axis_prunes_by_coordinate(xs, read_log, tmp_path, backing):
    """On x = [0, 10, 1, 9, 2, 8, 3, 7, 4, 6] in chunks of 2 every block's
    min/max range spans 5, so a bounds test keeps them all; the coordinate
    masks read only the blocks that hold a matching x."""
    from xarray_sql_spark.zarr_store import write_zarr

    x = np.array([0, 10, 1, 9, 2, 8, 3, 7, 4, 6], dtype=np.int64)
    y = np.arange(3, dtype=np.int64)
    v = np.arange(30, dtype=np.float64).reshape(10, 3)
    ds = Dataset({"v": (("x", "y"), v)}, {"x": x, "y": y})
    store = write_zarr(ds, str(tmp_path / "nm"), chunks={"x": 2}) if backing == "store" else None
    name = f"nonmono_{backing}"
    xs.from_dataset(name, ds, chunks={"x": 2}, store=store, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # pin the SCAN path
    read_log.drain()

    rows = xs.sql(f"SELECT * FROM {name} WHERE x = 5").df.collect()
    assert rows == []
    assert [l["partition"] for l in read_log.drain()] == [-1]  # sentinel only

    # no ORDER BY: a range sort samples the scan in a job of its own
    rows = xs.sql(f"SELECT x, y, v FROM {name} WHERE x IN (1, 8)").df.collect()
    want = [(x[i], y[j], v[i, j]) for i in np.flatnonzero(np.isin(x, [1, 8])) for j in y]
    assert sorted((r["x"], r["y"], r["v"]) for r in rows) == sorted(want)
    logs = read_log.drain()
    assert sorted(l["partition"] for l in logs) == [1, 2]  # x = 1 and x = 8
    assert all(l["block"]["x"] in ([2, 4], [4, 6]) for l in logs)


# --- exact dim-filter pushdown ----------------------------------------------
_BOX = (
    "SELECT time, lat, lon, air FROM {t} "
    "WHERE time < TIMESTAMP '2013-01-01 05:00:00' AND lat BETWEEN 60 AND 70 AND lon > 215"
)


def _box_cells(ds: Dataset):
    """The cells of ``_BOX``: 5 hours x 5 latitudes x 3 longitudes."""
    t = ds.coords["time"] < np.datetime64("2013-01-01T05")
    y = (ds.coords["lat"] >= 60) & (ds.coords["lat"] <= 70)
    x = ds.coords["lon"] > 215
    return t, y, x


def test_mirrored_dim_filters_leave_the_plan(xs):
    """The reader answers the dim conjuncts: the optimized plan keeps a
    Filter only for the data-variable predicate, and the rows are exact."""
    ds = air_small()
    xs.from_dataset("exact_air", ds, chunks={"time": 4})
    df = xs.sql(_BOX.format(t="exact_air") + " AND air > 280").df
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    filters = [line for line in plan.splitlines() if "Filter" in line]
    assert len(filters) == 1, plan
    assert "air" in filters[0]
    assert not any(d in filters[0] for d in ("time", "lat", "lon")), plan
    t, y, x = _box_cells(ds)
    air = ds.data_vars["air"].values()
    want = sorted(
        (float(ds.coords["lat"][j]), float(ds.coords["lon"][k]), float(air[i, j, k]))
        for i in np.flatnonzero(t) for j in np.flatnonzero(y) for k in np.flatnonzero(x)
        if air[i, j, k] > 280
    )
    got = sorted((r["lat"], r["lon"], r["air"]) for r in df.collect())
    assert got == want


def test_dim_filtered_results_get_the_filtered_axes(xs, tmp_path):
    """A dim-filtered query is no pure scan: the lazy to_dataset and the
    distributed Zarr sink collect the result's axes instead of borrowing
    the source's."""
    from xarray_sql_spark.zarr_store import open_zarr

    ds = air_small()
    xs.from_dataset("exact_ax", ds, chunks={"time": 4})
    t, y, x = _box_cells(ds)
    want = {
        "time": ds.coords["time"][t].astype("datetime64[us]"),
        "lat": np.sort(ds.coords["lat"][y]),
        "lon": ds.coords["lon"][x],
    }
    air = ds.data_vars["air"].values()[np.ix_(t, y, x)][:, ::-1]  # ascending lat
    dims = ("time", "lat", "lon")
    res = xs.sql(_BOX.format(t="exact_ax"))
    lazy = res.to_dataset(dims=dims, template="exact_ax", chunks={"time": 4})
    res.to_zarr_distributed(str(tmp_path / "box.zarr"), dims=list(dims))
    for out in (lazy, open_zarr(str(tmp_path / "box.zarr"))):
        for d in dims:
            np.testing.assert_array_equal(np.sort(np.asarray(out.coords[d])), want[d])
        got = out.data_vars["air"].values()
        if out.coords["lat"][0] > out.coords["lat"][-1]:
            got = got[:, ::-1]
        np.testing.assert_array_equal(got, air)


def test_slices_differing_in_literals_compile_no_new_code(xs):
    """With the dim conjuncts answered in the reader, no box literal is
    inlined into generated code: a second slice that differs from the
    first only in its literals compiles no whole-stage class."""
    xs.from_dataset("exact_cg", air_small(), chunks={"time": 4})
    compiles = xs.spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    q = (
        "SELECT time, lat, lon, air FROM exact_cg WHERE time >= TIMESTAMP '{}' "
        "AND time < TIMESTAMP '{}' AND lat BETWEEN {} AND {} AND lon BETWEEN {} AND {}"
    )
    xs.sql(q.format("2013-01-01 01:00:00", "2013-01-01 04:00:00", 60, 70, 205, 215)).df.collect()
    before = compiles.getCount()
    rows = xs.sql(
        q.format("2013-01-01 06:00:00", "2013-01-01 08:00:00", 50, 55, 210, 217.5)
    ).df.collect()
    assert compiles.getCount() - before == 0
    assert len(rows) == 2 * 3 * 4


# --- projection pushdown golden (FIXTURES.md F11) --------------------------
def test_projection_reaches_storage(xs, read_log):
    time = np.arange("2020-01-01", "2020-01-11", dtype="datetime64[D]").astype("datetime64[ns]")
    lat = np.linspace(-10, 10, 5).astype(np.float32)
    rng = np.random.default_rng(1)
    ds = Dataset(
        {
            "temperature": (("time", "lat"), rng.normal(size=(10, 5)).astype(np.float32)),
            "precipitation": (("time", "lat"), rng.normal(size=(10, 5)).astype(np.float32)),
        },
        {"time": time, "lat": lat},
    )
    xs.from_dataset("proj", ds, chunks={"time": 5}, read_log_dir=read_log.dir)
    xs.sql("SELECT AVG(temperature) AS a FROM proj").df.collect()
    logs = read_log.drain()
    for l in logs:
        assert "temperature" in l["vars_read"]
        assert "precipitation" not in l["vars_read"]
    # COUNT(*) materializes no data variables at all.
    xs.sql("SELECT COUNT(*) AS n FROM proj").df.collect()
    logs = read_log.drain()
    assert all(l["vars_read"] == [] for l in logs)


@pytest.mark.parametrize("backing", ["memory", "store"])
def test_projection_falls_back_when_the_pruned_view_cannot_analyze(
    xs, read_log, tmp_path, backing, monkeypatch
):
    """count(lat) of a non-nullable dim optimizes to count(1), so the
    optimized plan references only ``time``; the pruned view must still
    hold the ``lat`` the SQL text names, or re-planning the text cannot
    resolve it (which falls open to the unpruned scan, reading every
    variable)."""
    from pyspark.errors import AnalysisException

    from xarray_sql_spark.zarr_store import write_zarr

    time = np.arange("2024-01-01T00", "2024-01-03T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    lat = np.linspace(-10, 10, 8).astype(np.float32)
    lon = np.arange(4, dtype=np.float32)
    rng = np.random.default_rng(3)
    t2m, u10 = rng.normal(size=(2, 48, 8, 4)).astype(np.float32)
    dims = ("time", "lat", "lon")
    ds = Dataset(
        {"t2m": Variable(dims, t2m), "u10": Variable(dims, u10)},
        {"time": time, "lat": lat, "lon": lon},
    )
    store = write_zarr(ds, str(tmp_path / "g"), chunks={"time": 12}) if backing == "store" else None
    name = f"proj_fallback_{backing}"
    xs.from_dataset(name, ds, chunks={"time": 12}, store=store, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # the shortcut answers this without a scan
    raised = []
    plan = xs.spark.sql

    def sql(*a, **k):
        try:
            return plan(*a, **k)
        except AnalysisException as e:
            raised.append(e)
            raise

    monkeypatch.setattr(xs.spark, "sql", sql)
    n = xs.sql(
        f"SELECT count(lat) AS n FROM {name} WHERE time < TIMESTAMP '2024-01-02 00:00:00'"
    ).df.collect()[0]["n"]
    assert n == int((time < np.datetime64("2024-01-02")).sum()) * lat.size * lon.size
    # the pruned view keeps the lat the text names, so the re-plan
    # analyses and reads no data variable
    assert raised == []
    logs = [l for l in read_log.drain() if l["partition"] >= 0]
    assert logs and all(l["vars_read"] == [] for l in logs)
    # an ordinary projected query still reads only the variable it names
    rows = xs.sql(
        f"SELECT time, lat, lon, t2m FROM {name} "
        "WHERE time < TIMESTAMP '2024-01-01 12:00:00' ORDER BY time, lat, lon"
    ).df.collect()
    np.testing.assert_array_equal([r["t2m"] for r in rows], t2m[:12].ravel())
    logs = [l for l in read_log.drain() if l["partition"] >= 0]
    assert logs and all(l["vars_read"] == ["t2m"] for l in logs)


def test_session_payload_dir_is_removed_at_exit(tmp_path):
    """A process that registers a grid and runs a query leaves no payload
    directory behind once it exits."""
    code = (
        "import numpy as np\n"
        "from pyspark.sql import SparkSession\n"
        "from xarray_sql_spark.dataset import Dataset\n"
        "from xarray_sql_spark.xr_session import XarraySession\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "xs = XarraySession(spark)\n"
        "xs.from_dataset('g', Dataset({'v': (('x',), np.arange(4.0))}, {'x': np.arange(4)}))\n"
        "assert xs.sql('SELECT x, v FROM g WHERE x < 2').df.count() == 2\n"
        "assert os.listdir(xs._tmpdir)\n"
        "print(xs._tmpdir)\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", "import os\n" + code],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload_dir = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(payload_dir) == str(tmp_path)
    assert not os.path.exists(payload_dir)
    assert glob.glob(str(tmp_path / "xgrid_*")) == []


# --- NaN -> null semantics (FIXTURES.md F7 golden answers) -----------------
def test_nan_null_semantics(xs):
    time = np.arange("2021-01-01", "2021-01-03", dtype="datetime64[D]").astype("datetime64[ns]")
    x = np.array([0, 1], dtype=np.int64)
    y = np.array([0, 1], dtype=np.int64)
    temp = np.array(
        [[[1.0, 2.0], [np.nan, 4.0]], [[5.0, np.nan], [7.0, 8.0]]], dtype=np.float64
    )
    ds = Dataset({"temp": (("time", "x", "y"), temp)}, {"time": time, "x": x, "y": y})
    xs.from_dataset("nantab", ds, chunks={"time": 1})
    row = xs.sql(
        "SELECT MAX(temp) AS mx, MIN(temp) AS mn, AVG(temp) AS av, COUNT(temp) AS c, "
        "COUNT(*) FILTER (WHERE temp IS NULL) AS nulls FROM nantab"
    ).df.collect()[0]
    assert row["mx"] == 8.0 and row["mn"] == 1.0
    assert abs(row["av"] - 4.5) < 1e-12
    assert row["c"] == 6 and row["nulls"] == 2


# --- string coordinates (FIXTURES.md F6) -----------------------------------
def test_string_coordinates(xs):
    students = np.array(["alice", "bob", "charlie"], dtype=object)
    subjects = np.array(["math", "science"], dtype=object)
    rng = np.random.default_rng(2)
    score = rng.random((3, 2))
    ds = Dataset({"score": (("student", "subject"), score)}, {"student": students, "subject": subjects})
    xs.from_dataset("grades", ds)
    rows = xs.sql(
        "SELECT student, AVG(score) AS s FROM grades WHERE subject = 'math' "
        "GROUP BY student ORDER BY student"
    ).df.collect()
    assert [r["student"] for r in rows] == ["alice", "bob", "charlie"]
    np.testing.assert_allclose([r["s"] for r in rows], score[:, 0], rtol=1e-12)


# --- multi-dim-group registration + scalar table (FIXTURES.md F9) ----------
def test_mixed_dims_namespace(xs):
    time = np.arange("2020-01-01", "2020-01-03", dtype="datetime64[D]").astype("datetime64[ns]")
    lat = np.linspace(-90, 90, 3)
    lon = np.linspace(-180, 180, 4)
    level = np.array([500, 1000], dtype=np.int64)
    rng = np.random.default_rng(3)
    ds = Dataset(
        {
            "temperature_2m": (("time", "lat", "lon"), rng.normal(size=(2, 3, 4))),
            "pressure": (("time", "lat", "lon", "level"), rng.normal(size=(2, 3, 4, 2))),
            "projection": ((), np.int64(4326)),
        },
        {"time": time, "lat": lat, "lon": lon, "level": level},
    )
    xs.from_dataset("era5", ds, chunks={"time": 1})
    assert xs.sql("SELECT COUNT(*) AS n FROM era5.time_lat_lon").df.collect()[0]["n"] == 24
    assert (
        xs.sql("SELECT COUNT(*) AS n FROM era5.time_lat_lon_level").df.collect()[0]["n"] == 48
    )
    assert xs.sql("SELECT projection FROM era5.scalar").df.collect()[0]["projection"] == 4326
    # join across the two dim groups
    n = xs.sql(
        "SELECT COUNT(*) AS n FROM era5.time_lat_lon s JOIN era5.time_lat_lon_level a "
        "ON s.time = a.time AND s.lat = a.lat AND s.lon = a.lon"
    ).df.collect()[0]["n"]
    assert n == 48


def test_table_names_override(xs):
    time = np.arange("2020-01-01", "2020-01-03", dtype="datetime64[D]").astype("datetime64[ns]")
    lat = np.linspace(-90, 90, 3)
    level = np.array([500, 1000], dtype=np.int64)
    rng = np.random.default_rng(4)
    ds = Dataset(
        {
            "t2m": (("time", "lat"), rng.normal(size=(2, 3))),
            "z": (("time", "lat", "level"), rng.normal(size=(2, 3, 2))),
        },
        {"time": time, "lat": lat, "level": level},
    )
    xs.from_dataset(
        "wx",
        ds,
        table_names={("time", "lat"): "surface", ("time", "lat", "level"): "atmosphere"},
    )
    assert xs.sql("SELECT COUNT(*) AS n FROM wx.surface").df.collect()[0]["n"] == 6
    assert xs.sql("SELECT COUNT(*) AS n FROM wx.atmosphere").df.collect()[0]["n"] == 12


# --- round-trip + reverse pivot -------------------------------------------
def test_select_star_roundtrip(xs):
    ds = air_small()
    xs.from_dataset("rt_air", ds, chunks={"time": 4})
    out = xs.sql("SELECT * FROM rt_air").to_dataset(
        dims=("time", "lat", "lon"), template="rt_air"
    )
    # Row order is engine-defined; compare via coordinate alignment.
    src_air = ds.data_vars["air"].values()
    t_idx = {v: i for i, v in enumerate(out.coords["time"].tolist())}
    la_idx = {v: i for i, v in enumerate(out.coords["lat"].tolist())}
    lo_idx = {v: i for i, v in enumerate(out.coords["lon"].tolist())}
    got = out.data_vars["air"].values()
    perm = np.array(
        [
            [
                [got[t_idx[t], la_idx[la], lo_idx[lo]] for lo in ds.coords["lon"].tolist()]
                for la in ds.coords["lat"].tolist()
            ]
            for t in ds.coords["time"].tolist()
        ]
    )
    np.testing.assert_allclose(perm, src_air, rtol=1e-6)
    # template metadata recovery
    assert out.attrs.get("title") == "air_small"
    assert out.data_vars["air"].attrs.get("units") == "K"


def test_orderby_desc_direction_preserved(xs):
    ds = air_small()
    xs.from_dataset("ord_air", ds, chunks={"time": 4})
    out = xs.sql(
        "SELECT lat, AVG(air) AS air FROM ord_air GROUP BY lat ORDER BY lat DESC"
    ).to_dataset(dims=("lat",))
    lats = out.coords["lat"]
    assert (np.diff(lats) < 0).all()  # descending preserved into axis order


def test_groupby_mean_matches_numpy(xs):
    ds = air_small()
    xs.from_dataset("agg_air", ds, chunks={"time": 4})
    out = xs.sql(
        "SELECT lat, lon, AVG(air) AS air FROM agg_air GROUP BY lat, lon"
    ).to_dataset(dims=("lat", "lon"))
    expect = ds.data_vars["air"].values().mean(axis=0)
    la = {v: i for i, v in enumerate(out.coords["lat"].tolist())}
    lo = {v: i for i, v in enumerate(out.coords["lon"].tolist())}
    got = out.data_vars["air"].values()
    for i, lav in enumerate(ds.coords["lat"].tolist()):
        for j, lov in enumerate(ds.coords["lon"].tolist()):
            assert abs(got[la[lav], lo[lov]] - expect[i, j]) < 1e-4


def test_sparsity_template_fill(xs):
    ds = air_small()
    xs.from_dataset("sp_air", ds, chunks={"time": 4})
    out = xs.sql(
        "SELECT lat, lon, AVG(air) AS air FROM sp_air WHERE lat > 60 GROUP BY lat, lon"
    ).to_dataset(dims=("lat", "lon"), template=ds, sparsity="template")
    assert out.data_vars["air"].shape == (11, 10)
    vals = out.data_vars["air"].values()
    # lat coords follow the template; rows with lat <= 60 are NaN-filled
    mask = ds.coords["lat"] <= 60
    assert np.isnan(vals[mask]).all()
    assert not np.isnan(vals[~mask]).any()


# --- store-backed laziness -------------------------------------------------
def test_store_backed_scan(xs, read_log, tmp_path):
    from xarray_sql_spark.zarr_store import write_zarr

    ds = air_small()
    store = write_zarr(ds, str(tmp_path / "air_store"), chunks={"time": 6})
    xs.from_dataset("st_air", ds, chunks={"time": 6}, store=store, read_log_dir=read_log.dir)
    read_log.drain()
    row = xs.sql("SELECT AVG(air) AS a FROM st_air").df.collect()[0]
    expect = float(ds.data_vars["air"].values().mean())
    assert abs(row["a"] - expect) < 1e-3
    logs = read_log.drain()
    assert len(logs) == 2


# --- error surface (reference tests/test_sql.py:103-123) -------------------
def test_unknown_table_and_column_errors(xs):
    from pyspark.errors.exceptions.captured import AnalysisException

    xs.from_dataset("err_air", air_small())
    with pytest.raises(AnalysisException):
        xs.sql("SELECT * FROM no_such_table").df.collect()
    with pytest.raises(AnalysisException):
        xs.sql("SELECT nope FROM err_air").df.collect()


# --- Zarr v2 store backend (reference reader.py:192-337 reads real Zarr) ----
def zarr_fixture(tmpdir: str, chunks=None, compressor={"id": "zlib", "level": 1}):
    from xarray_sql_spark.zarr_store import write_zarr

    ds = air_small()
    path = os.path.join(tmpdir, "air.zarr")
    write_zarr(ds, path, chunks=chunks or {"time": 4}, compressor=compressor)
    return ds, path


def test_zarr_roundtrip_values_and_attrs(tmp_path):
    from xarray_sql_spark.zarr_store import open_zarr

    ds, path = zarr_fixture(str(tmp_path))
    back = open_zarr(path)
    assert back.attrs["title"] == "air_small"
    assert back.data_vars["air"].attrs["units"] == "K"
    np.testing.assert_array_equal(back.coords["time"], ds.coords["time"])
    np.testing.assert_array_equal(back.coords["lat"], ds.coords["lat"])
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )
    assert back.data_vars["air"].dtype == np.float32


def test_zarr_selective_chunk_reads(tmp_path):
    """Per-chunk selectivity: a block read opens ONLY overlapping chunk
    files (the reference's Zarr selective-read contract, reader.py:270-303)."""
    ds, path = zarr_fixture(str(tmp_path))
    back = Dataset.open_store(path)  # format dispatch: detects Zarr
    zv = back.data_vars["air"].data
    blk = zv.read_block((slice(4, 8), slice(0, 11), slice(0, 10)))
    np.testing.assert_allclose(blk, ds.data_vars["air"].values()[4:8])
    # time chunk 1 only (rows 4..8 of chunksize 4), single lat/lon chunk
    assert zv.last_opened == ["1.0.0"]


def test_zarr_missing_chunk_is_fill(tmp_path):
    ds, path = zarr_fixture(str(tmp_path))
    os.remove(os.path.join(path, "air", "0.0.0"))
    back = Dataset.open_store(path)
    blk = back.data_vars["air"].read_block((slice(0, 4), slice(0, 11), slice(0, 10)))
    assert np.isnan(blk).all()
    blk2 = back.data_vars["air"].read_block((slice(4, 12), slice(0, 11), slice(0, 10)))
    np.testing.assert_allclose(blk2, ds.data_vars["air"].values()[4:12])


def test_zarr_store_backed_table_selective(xs, read_log, tmp_path):
    """End-to-end: register a Zarr v2 tree as a grid table; values match and
    a dim-filtered query reads only the matching partitions (read log)."""
    ds, path = zarr_fixture(str(tmp_path))
    xs.from_dataset(
        "z_air", Dataset.open_store(path), chunks={"time": 4}, store=path,
        read_log_dir=read_log.dir,
    )
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    read_log.drain()
    row = xs.sql("SELECT AVG(air) AS a FROM z_air").df.collect()[0]
    expect = float(ds.data_vars["air"].values().mean())
    assert abs(row["a"] - expect) < 1e-3
    assert len(read_log.drain()) == 3  # 12h / 4h chunks
    row = xs.sql(
        "SELECT COUNT(*) AS n FROM z_air WHERE time >= TIMESTAMP '2013-01-01 09:00:00'"
    ).df.collect()[0]
    assert row["n"] == 3 * 11 * 10
    logs = read_log.drain()
    assert len(logs) == 1  # only the last time chunk


def test_filtered_store_prunes_partitions(xs, read_log, tmp_path):
    """Partition pruning works over a DELTA-packed coordinate: bounds come
    from the decoded (cumsum-inverted) coord values, so a predicate on the
    logical values prunes chunks even though the stored bytes are diffs."""
    import json
    import zlib

    path = str(tmp_path / "fp.zarr")
    os.makedirs(os.path.join(path, "k"))
    os.makedirs(os.path.join(path, "v"))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    k = 1000 + 3 * np.arange(48, dtype=np.int64)  # 4 chunks of 12
    v = np.arange(48, dtype=np.float64)

    def _arr(name, dtype, filters, payloads):
        meta = {
            "zarr_format": 2, "shape": [48], "chunks": [12], "dtype": dtype,
            "compressor": {"id": "zlib", "level": 1}, "fill_value": 0,
            "order": "C", "filters": filters,
        }
        with open(os.path.join(path, name, ".zarray"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(path, name, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": ["k"]}, f)
        for ci, payload in enumerate(payloads):
            with open(os.path.join(path, name, str(ci)), "wb") as f:
                f.write(zlib.compress(payload, 1))

    k_chunks = []
    for ci in range(4):
        block = k[ci * 12 : (ci + 1) * 12]
        enc = np.empty(12, dtype="<i4")
        enc[0] = block[0]
        enc[1:] = np.diff(block)
        k_chunks.append(enc.tobytes())
    _arr("k", "<i8", [{"id": "delta", "dtype": "<i8", "astype": "<i4"}], k_chunks)
    _arr("v", "<f8", None, [v[ci * 12 : (ci + 1) * 12].tobytes() for ci in range(4)])

    xs.from_dataset(
        "fp_t", Dataset.open_store(path), chunks={"k": 12}, store=path,
        read_log_dir=read_log.dir,
    )
    read_log.drain()
    # chunk 2 starts at k = 1000 + 3*24 = 1072: chunks 0-1 must prune
    row = xs.sql("SELECT COUNT(*) AS n, SUM(v) AS s FROM fp_t WHERE k >= 1072").df.collect()[0]
    assert row["n"] == 24 and row["s"] == float(v[24:].sum())
    assert len(read_log.drain()) == 2  # only chunks 2 and 3 read


# --- OR-of-equalities pruning (reference src/lib.rs:340-423 prunes OR trees;
# Spark's Python-DS pushFilters is conjunct-only, so the session rewrites the
# chain to IN before planning) ----------------------------------------------
def test_or_equalities_prune_partitions(xs, read_log):
    xs.from_dataset("or_t", prune_fixture(), chunks={"time": 25}, read_log_dir=read_log.dir)
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    read_log.drain()
    df = xs.sql(
        "SELECT COUNT(*) AS n FROM or_t "
        "WHERE time = TIMESTAMP '2020-01-05' OR time = TIMESTAMP '2020-01-20'"
    ).df
    assert df.collect()[0]["n"] == 2 * 5
    logs = read_log.drain()
    assert len(logs) == 1  # both days fall in the first 25-day chunk


def test_or_rewrite_is_conservative(xs):
    """A chain adjacent to AND keeps OR semantics (no rewrite): the result
    must stay correct even when pruning is skipped."""
    xs.from_dataset("or_c", prune_fixture(), chunks={"time": 25})
    n = xs.sql(
        "SELECT COUNT(*) AS n FROM or_c "
        "WHERE lat > 0 AND time = TIMESTAMP '2020-01-05' OR time = TIMESTAMP '2020-01-20'"
    ).df.collect()[0]["n"]
    # (lat>0 AND t=jan5) OR t=jan20  ->  2 lats + 5 lats
    assert n == 2 + 5


def test_rewrite_preserves_string_literals(xs):
    """A registered namespace name inside a quoted literal is not rewritten
    (round-2 ADVICE: regex _rewrite corrupted 'era5.surface')."""
    ds = air_small()
    extra = Dataset(
        {
            "air": ds.data_vars["air"],
            "flat": Variable((), np.float64(1.5)),
        },
        dict(ds.coords),
    )
    xs.from_dataset("era5", extra)  # mixed dims -> namespaced views
    row = xs.sql(
        "SELECT 'era5.time_lat_lon' AS tag, COUNT(*) AS n FROM era5.time_lat_lon"
    ).df.collect()[0]
    assert row["tag"] == "era5.time_lat_lon"
    assert row["n"] == 12 * 11 * 10


# --- error propagation from inside a partition read (reference
# tests/test_reader.py:781-838) ---------------------------------------------
def test_partition_read_error_propagates(xs, tmp_path):
    ds, path = zarr_fixture(str(tmp_path))
    xs.from_dataset("err_z", Dataset.open_store(path), chunks={"time": 4}, store=path)
    # Corrupt one chunk AFTER registration: planning stays fine (coords are
    # already loaded), but the executor's chunk decompression must raise and
    # surface through collect(), not silently yield fill values.
    chunk = os.path.join(path, "air", "1.0.0")
    with open(chunk, "wb") as f:
        f.write(b"not-zlib-data")
    with pytest.raises(Exception) as ei:
        xs.sql("SELECT SUM(air) AS s FROM err_z").df.collect()
    # the DECODE failure specifically — a generic failure would pass even
    # if valid chunks stopped decoding
    msg = str(ei.value).lower()
    assert "decompress" in msg or "zlib" in msg, msg[:500]


def test_fresh_stream_per_query_counts(xs, read_log):
    """Three sequential queries re-read the source each time (reference
    test_reader.py:869-945): cumulative partition-read counts 2, 4, 6."""
    xs.from_dataset(
        "fresh_t", prune_fixture(), chunks={"time": 50}, read_log_dir=read_log.dir
    )
    read_log.drain()
    total = 0
    for q in (
        "SELECT * FROM fresh_t",
        "SELECT AVG(temperature) AS a FROM fresh_t",
        "SELECT MAX(temperature) AS m FROM fresh_t",
    ):
        xs.sql(q).df.collect()
        total += len(read_log.drain())
    assert total == 6


def test_zarr_consolidated_metadata_roundtrip(tmp_path):
    """.zmetadata (consolidated) is preferred when present — one metadata
    read for the whole group — and the per-array fallback reads the same."""
    from xarray_sql_spark.zarr_store import open_zarr

    ds, path = zarr_fixture(str(tmp_path))
    assert os.path.isfile(os.path.join(path, ".zmetadata"))
    cons = open_zarr(path)
    os.remove(os.path.join(path, ".zmetadata"))
    plain = open_zarr(path)
    np.testing.assert_allclose(
        cons.data_vars["air"].values(), plain.data_vars["air"].values()
    )
    assert cons.data_vars["air"].attrs == plain.data_vars["air"].attrs
    assert cons.attrs == plain.attrs


def test_sql_result_to_zarr_roundtrip(xs, tmp_path):
    """Zarr in -> SQL -> Zarr out: the written result re-opens with the
    query's values, dims and attrs-capable layout."""
    ds, path = zarr_fixture(str(tmp_path))
    xs.from_dataset("z_rt", Dataset.open_store(path), chunks={"time": 4}, store=path)
    out = str(tmp_path / "anomaly.zarr")
    xs.sql(
        "SELECT time, lat, lon, air - 280.0 AS anom FROM z_rt"
    ).to_zarr(out, dims=("time", "lat", "lon"), template="z_rt", chunks={"time": 6})
    back = Dataset.open_store(out)
    got = back.data_vars["anom"].values()
    expect = ds.data_vars["air"].values().astype(np.float64) - 280.0
    # output coord order follows the result rows; template dims fix order here
    np.testing.assert_allclose(np.sort(got.ravel()), np.sort(expect.ravel()), rtol=1e-6)
    assert set(back.coords) == {"time", "lat", "lon"}


def test_pruning_operator_matrix(xs, read_log):
    """Per-operator pruning goldens (reference tests/test_reader.py:948-1271
    breadth): =, >, <= prune to exactly the covering chunks; IN prunes to
    the named chunks even when non-contiguous; != and NOT BETWEEN never
    prune (conservative keep, reference src/lib.rs:206-448) yet still
    return exact rows: the masks cannot mirror a negation, so the reader
    hands those filters back (Inexact) and Catalyst re-applies them above
    the scan."""
    xs.from_dataset(
        "prune_m", prune_fixture(), chunks={"time": 25}, read_log_dir=read_log.dir
    )
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow

    def run(where: str) -> tuple[int, int]:
        n = xs.sql(f"SELECT COUNT(*) AS n FROM prune_m WHERE {where}").df.collect()[0]["n"]
        return n, len([l for l in read_log.drain() if l["partition"] >= 0])

    # '2020-02-15' is day index 45 -> chunk 1 of [0..24][25..49][50..74][75..99]
    assert run("time = TIMESTAMP '2020-02-15'") == (5, 1)
    # day 74 is '2020-03-15'; strict > leaves only chunk 3
    assert run("time > TIMESTAMP '2020-03-15'") == (25 * 5, 1)
    # <= day 24 is exactly chunk 0
    assert run("time <= TIMESTAMP '2020-01-25'") == (25 * 5, 1)
    # IN with values in chunks 0 and 3: both read, middle two pruned
    assert run(
        "time IN (TIMESTAMP '2020-01-05', TIMESTAMP '2020-03-20')"
    ) == (2 * 5, 2)
    # != cannot prune (the excluded value sits inside one chunk's bounds
    # but every chunk still holds matching rows): all 4 read, exact rows
    assert run("time != TIMESTAMP '2020-02-15'") == (99 * 5, 4)
    # NOT BETWEEN: conservative keep on all chunks, row-exact result
    assert run(
        "time NOT BETWEEN TIMESTAMP '2020-01-26' AND TIMESTAMP '2020-04-09'"
    ) == (25 * 5, 4)


# --- Zarr v3 store backend (zarr.json metadata, c/-prefixed chunk keys,
# bytes+gzip codecs, inline consolidated metadata — the format zarr-python 3
# writes; the reference's benchmark stack pins zarr>=3) ----------------------
def zarr3_fixture(tmpdir: str, chunks=None, compressor={"id": "zlib", "level": 1}):
    from xarray_sql_spark.zarr_store import write_zarr

    ds = air_small()
    path = os.path.join(tmpdir, "air_v3.zarr")
    write_zarr(ds, path, chunks=chunks or {"time": 4}, compressor=compressor,
               zarr_format=3)
    return ds, path


def test_zarr3_roundtrip_values_attrs_and_dims(tmp_path):
    from xarray_sql_spark.zarr_store import open_zarr

    ds, path = zarr3_fixture(str(tmp_path))
    back = open_zarr(path)
    assert back.attrs["title"] == "air_small"
    assert back.data_vars["air"].attrs["units"] == "K"
    assert back.data_vars["air"].dims == ("time", "lat", "lon")
    np.testing.assert_array_equal(back.coords["time"], ds.coords["time"])
    np.testing.assert_array_equal(back.coords["lat"], ds.coords["lat"])
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )
    assert back.data_vars["air"].dtype == np.float32


def test_zarr3_selective_chunk_reads(tmp_path):
    ds, path = zarr3_fixture(str(tmp_path))
    back = Dataset.open_store(path)
    zv = back.data_vars["air"].data
    blk = zv.read_block((slice(4, 8), slice(0, 11), slice(0, 10)))
    np.testing.assert_allclose(blk, ds.data_vars["air"].values()[4:8])
    assert zv.last_opened == [os.path.join("c", "1", "0", "0")]


def test_zarr3_missing_chunk_is_fill(tmp_path):
    ds, path = zarr3_fixture(str(tmp_path))
    os.remove(os.path.join(path, "air", "c", "0", "0", "0"))
    back = Dataset.open_store(path)
    blk = back.data_vars["air"].read_block((slice(0, 4), slice(0, 11), slice(0, 10)))
    assert np.isnan(blk).all()
    blk2 = back.data_vars["air"].read_block((slice(4, 12), slice(0, 11), slice(0, 10)))
    np.testing.assert_allclose(blk2, ds.data_vars["air"].values()[4:12])


def test_zarr3_consolidated_metadata_is_sufficient(tmp_path):
    """The root zarr.json's inline consolidated_metadata alone must open the
    group — per-array zarr.json files are never read when it is present
    (one metadata round trip, the zarr-python 3 convention)."""
    from xarray_sql_spark.zarr_store import open_zarr

    ds, path = zarr3_fixture(str(tmp_path))
    for name in ("air", "time", "lat", "lon"):
        os.remove(os.path.join(path, name, "zarr.json"))
    back = open_zarr(path)
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )


def test_zarr3_uncompressed_and_no_consolidated(tmp_path):
    """bytes-codec-only chunks read back; with consolidated metadata
    stripped the loader walks per-array zarr.json files instead."""
    import json

    from xarray_sql_spark.zarr_store import open_zarr

    ds, path = zarr3_fixture(str(tmp_path), compressor=None)
    root_path = os.path.join(path, "zarr.json")
    with open(root_path) as f:
        root = json.load(f)
    del root["consolidated_metadata"]
    with open(root_path, "w") as f:
        json.dump(root, f)
    back = open_zarr(path)
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )


def test_zarr3_store_backed_table_selective(xs, read_log, tmp_path):
    """End-to-end over a v3 tree: values match and a dim-filtered query
    reads only the matching partitions (same contract as the v2 twin)."""
    ds, path = zarr3_fixture(str(tmp_path))
    xs.from_dataset(
        "z3_air", Dataset.open_store(path), chunks={"time": 4}, store=path,
        read_log_dir=read_log.dir,
    )
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    read_log.drain()
    row = xs.sql("SELECT AVG(air) AS a FROM z3_air").df.collect()[0]
    expect = float(ds.data_vars["air"].values().mean())
    assert abs(row["a"] - expect) < 1e-3
    assert len(read_log.drain()) == 3
    row = xs.sql(
        "SELECT COUNT(*) AS n FROM z3_air WHERE time >= TIMESTAMP '2013-01-01 09:00:00'"
    ).df.collect()[0]
    assert row["n"] == 3 * 11 * 10
    assert len(read_log.drain()) == 1  # only the last time chunk


def test_zarr3_sharded_roundtrip_and_subshard_selectivity(tmp_path):
    """sharding_indexed: values round-trip, and a block read touches ONLY
    the overlapped inner chunks' byte ranges of the one overlapped shard
    (the cloud-store layout: few big files, selective range reads)."""
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    ds = air_small()  # time=12, lat=11, lon=10
    path = os.path.join(str(tmp_path), "air_sharded.zarr")
    write_zarr(ds, path, chunks={"time": 2}, zarr_format=3, shards={"time": 8})
    back = open_zarr(path)
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )
    zv = back.data_vars["air"].data
    assert zv.chunks[0] == 2  # read granularity is the INNER chunk
    zv.last_opened = []
    blk = zv.read_block((slice(2, 4), slice(0, 11), slice(0, 10)))
    np.testing.assert_allclose(blk, ds.data_vars["air"].values()[2:4])
    # inner chunk #1 of shard c/0/0/0 only
    assert zv.last_opened == [os.path.join("c", "0", "0", "0") + "[1]"]
    # a read crossing the shard boundary opens both shard files
    zv.last_opened = []
    zv.read_block((slice(6, 10), slice(0, 11), slice(0, 10)))
    opened = {k.split("[")[0] for k in zv.last_opened}
    assert opened == {os.path.join("c", "0", "0", "0"), os.path.join("c", "1", "0", "0")}


def test_zarr3_sharded_store_backed_table(xs, read_log, tmp_path):
    """End-to-end: a sharded v3 tree registers as a grid table; values and
    partition pruning behave identically to the unsharded layouts."""
    from xarray_sql_spark.zarr_store import write_zarr

    ds = air_small()
    path = os.path.join(str(tmp_path), "air_sharded2.zarr")
    write_zarr(ds, path, chunks={"time": 2}, zarr_format=3, shards={"time": 4})
    xs.from_dataset(
        "z3s_air", Dataset.open_store(path), chunks={"time": 4}, store=path,
        read_log_dir=read_log.dir,
    )
    xs.metadata_aggregates = False  # pin the SCAN path; the shortcut is tested in test_stats_arrow
    read_log.drain()
    row = xs.sql("SELECT AVG(air) AS a FROM z3s_air").df.collect()[0]
    expect = float(ds.data_vars["air"].values().mean())
    assert abs(row["a"] - expect) < 1e-3
    assert len(read_log.drain()) == 3
    row = xs.sql(
        "SELECT COUNT(*) AS n FROM z3s_air WHERE time >= TIMESTAMP '2013-01-01 09:00:00'"
    ).df.collect()[0]
    assert row["n"] == 3 * 11 * 10
    assert len(read_log.drain()) == 1


def test_zarr3_dialect_corners(tmp_path):
    """v3 dialect variations the writer does not emit must still read:
    '.'-separated default keys, v2-style key encoding, and the transpose
    codec with a reversed order list (F-order chunks)."""
    import json

    from xarray_sql_spark.zarr_store import ZarrArray

    base = str(tmp_path)
    data = np.arange(24, dtype="<f8").reshape(4, 6)

    def make(name, meta, chunk_writes):
        adir = os.path.join(base, name)
        os.makedirs(adir, exist_ok=True)
        with open(os.path.join(adir, "zarr.json"), "w") as f:
            json.dump({"zarr_format": 3, "node_type": "array", **meta}, f)
        for key, arr in chunk_writes.items():
            fname = os.path.join(adir, key)
            os.makedirs(os.path.dirname(fname), exist_ok=True) if os.sep in key else None
            with open(fname, "wb") as f:
                f.write(np.ascontiguousarray(arr).tobytes())
        return ZarrArray(adir)

    common = {
        "shape": [4, 6],
        "data_type": "float64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 6]}},
        "fill_value": 0,
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
    }

    # default encoding with "." separator -> key "c.0.0"
    a = make(
        "dotsep",
        {**common, "chunk_key_encoding": {"name": "default", "configuration": {"separator": "."}}},
        {"c.0.0": data},
    )
    np.testing.assert_array_equal(a.values(), data)

    # v2-style key encoding -> key "0.0"
    b = make(
        "v2keys",
        {**common, "chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}}},
        {"0.0": data},
    )
    np.testing.assert_array_equal(b.values(), data)

    # transpose codec, reversed order -> chunk stored F-order
    c = make(
        "forder",
        {
            **common,
            "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
            "codecs": [
                {"name": "transpose", "configuration": {"order": [1, 0]}},
                {"name": "bytes", "configuration": {"endian": "little"}},
            ],
        },
        {os.path.join("c", "0", "0"): np.asfortranarray(data).T.copy()},
    )
    np.testing.assert_array_equal(c.values(), data)


def test_zarr3_shard_index_crc32c_detects_corruption(tmp_path):
    """The writer appends a crc32c over the shard index; the reader
    verifies it and refuses a corrupted index instead of reading bogus
    (offset, nbytes) pairs as data."""
    from xarray_sql_spark.zarr_store import _crc32c, open_zarr, write_zarr

    # known-answer check (RFC 3720 test vector: 32 zero bytes)
    assert _crc32c(bytes(32)) == 0x8A9136AA

    ds = air_small()
    path = os.path.join(str(tmp_path), "air_crc.zarr")
    write_zarr(ds, path, chunks={"time": 2}, zarr_format=3, shards={"time": 8})
    back = open_zarr(path)  # clean read verifies every index it touches
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )

    shard = os.path.join(path, "air", "c", "0", "0", "0")
    data = bytearray(open(shard, "rb").read())
    data[-6] ^= 0xFF  # flip a byte inside the index (not the checksum)
    with open(shard, "wb") as f:
        f.write(bytes(data))
    fresh = open_zarr(path)
    with pytest.raises(ValueError, match="crc32c mismatch"):
        fresh.data_vars["air"].read_block(
            (slice(0, 4), slice(0, 11), slice(0, 10))
        )


def test_zarr3_shard_spec_default_index_codecs(tmp_path):
    """The sharding spec's DEFAULT index_codecs is bytes+crc32c, so a store
    whose metadata omits the key still carries the 4-byte checksum: the
    reader must locate the index around it (and verify it), not read 4
    bytes short."""
    import json

    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    ds = air_small()
    path = os.path.join(str(tmp_path), "air_defidx.zarr")
    write_zarr(ds, path, chunks={"time": 2}, zarr_format=3, shards={"time": 8})
    # strip index_codecs from every array's sharding config — the bytes on
    # disk (which include the crc32c trailer) are now a spec-default store
    for name in ("air", "time", "lat", "lon"):
        meta_path = os.path.join(path, name, "zarr.json")
        with open(meta_path) as f:
            meta = json.load(f)
        codec0 = meta["codecs"][0]
        if codec0.get("name") == "sharding_indexed":
            codec0["configuration"].pop("index_codecs", None)
            with open(meta_path, "w") as f:
                json.dump(meta, f)
    back = open_zarr(path)
    np.testing.assert_allclose(
        back.data_vars["air"].values(), ds.data_vars["air"].values()
    )


def test_timedelta_axis_end_to_end(xs, spark):
    """timedelta64 axes (forecast lead-time / "step" dims, the ERA5/GRIB
    pattern) register as DayTimeIntervalType columns: duration(us) Arrow
    batches through the DataSource, interval-literal SQL filters, the A4
    metadata-aggregate shortcut, scan_stats bounds, reverse pivot back to
    a timedelta64 axis, and NaT axis values -> SQL NULL (which is what
    makes the _coord_nullable 'm'-kind branch reachable end-to-end)."""
    step = np.array([0, 6, 12, 18], dtype="timedelta64[h]")
    lat = np.arange(3, dtype=np.int64)
    skill = (np.arange(12, dtype=np.float64) / 4).reshape(4, 3)
    ds = Dataset(
        {"skill": Variable(("step", "lat"), skill)},
        {"step": step, "lat": lat},
    )
    xs.from_dataset("fc_td", ds, chunks={"step": 2})

    rows = spark.sql(
        "SELECT step, round(avg(skill), 6) AS m FROM fc_td "
        "WHERE step >= INTERVAL '6' HOUR GROUP BY step ORDER BY step"
    ).collect()
    assert [(str(r["step"]), r["m"]) for r in rows] == [
        ("6:00:00", 1.0),
        ("12:00:00", 1.75),
        ("18:00:00", 2.5),
    ]
    n = spark.sql(
        "SELECT count(*) AS n FROM fc_td WHERE step <= INTERVAL '6' HOUR"
    ).collect()[0]["n"]
    assert n == 6

    # A4 metadata shortcut + engine stats see interval bounds
    agg = spark.sql(
        "SELECT min(step) AS lo, max(step) AS hi, count(*) AS n FROM fc_td"
    ).collect()[0]
    assert (str(agg["lo"]), str(agg["hi"]), agg["n"]) == ("0:00:00", "18:00:00", 12)
    st = xs.scan_stats("fc_td")
    import datetime

    assert st["dim_bounds"]["step"] == (
        datetime.timedelta(0),
        datetime.timedelta(hours=18),
    )

    # reverse pivot: axis comes back as timedelta64, values dense-exact
    back = xs.sql("SELECT step, lat, skill FROM fc_td").to_dataset(
        dims=("step", "lat")
    )
    assert np.asarray(back.coords["step"]).dtype.kind == "m"
    assert np.allclose(np.asarray(back.data_vars["skill"].data), skill)

    # NaT axis value -> nullable field -> SQL NULL row
    step2 = np.array([0, 6, "NaT", 18], dtype="timedelta64[h]")
    ds2 = Dataset({"v": Variable(("step",), np.arange(4.0))}, {"step": step2})
    xs.from_dataset("fc_td_nat", ds2)
    nat = spark.sql("SELECT v FROM fc_td_nat WHERE step IS NULL").collect()
    assert [r["v"] for r in nat] == [2.0]


def test_timedelta_zarr_store_to_sql(xs, spark, tmp_path):
    """Close the loop for timedelta64: a Zarr v2 store whose variable is
    '<m8[ns]' opens (dtype + values exact, test_zarr_codecs pins the NaT
    fill), REGISTERS as a grid table (the round-8 duration support), and
    interval SQL runs over it."""
    from xarray_sql_spark.zarr_store import write_zarr

    lead = np.array([0, 6, 12, 18], dtype="timedelta64[h]").astype(
        "timedelta64[ns]"
    )
    src = Dataset(
        {"lead": Variable(("i",), lead)}, {"i": np.arange(4, dtype=np.int64)}
    )
    path = write_zarr(src, str(tmp_path / "lead.zarr"))
    back = Dataset.open_store(path)
    arr = np.asarray(back.data_vars["lead"].values())
    assert arr.dtype.kind == "m" and (arr == lead).all()

    xs.from_dataset("lead_store", back)
    n = spark.sql(
        "SELECT count(*) AS n FROM lead_store "
        "WHERE lead >= INTERVAL '6' HOUR"
    ).collect()[0]["n"]
    assert n == 3
