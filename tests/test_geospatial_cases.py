"""The reference's 9-case geospatial benchmark suite, locally runnable.

Each case re-expresses a reference benchmark (reference
benchmarks/geospatial/01..09, SURVEY.md §5 layer 7) on a small synthetic
grid through the public grid-engine API (XarraySession.from_dataset →
.sql), asserting against an independent numpy oracle — the same
SQL-vs-array differential strategy as the reference's `_harness.py:205-243`
(xarray replaced by numpy: this container has no xarray).

Cloud datasets are replaced by seeded grids; the *query shapes* are the
reference's: per-pixel arithmetic, climatology GROUP BY, zonal reductions,
CTE self-join anomaly, time+interval join forecast skill, raster×vector
range join, scalar struct UDF reprojection, weight-table regrid, and the
UDF+JOIN warp composition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.xr_session import XarraySession


@pytest.fixture(scope="module")
def xs(spark):
    return XarraySession(spark)


RNG = np.random.default_rng(7)

# --- fixtures ---------------------------------------------------------------
Y = np.arange(32, dtype=np.int64)
X = np.arange(32, dtype=np.int64)
RED = RNG.uniform(0.05, 0.6, (32, 32))
NIR = RNG.uniform(0.1, 0.9, (32, 32))

T = np.arange("2024-03-01T00", "2024-03-04T00", dtype="datetime64[h]").astype(
    "datetime64[ns]"
)  # 72 hourly steps
LAT = np.linspace(30.0, 44.0, 8)
LON = np.linspace(-120.0, -98.0, 12)
T2M = 280.0 + 8.0 * RNG.standard_normal((72, 8, 12))

INIT = np.arange("2024-03-01", "2024-03-05", dtype="datetime64[D]").astype("datetime64[ns]")
LEADS = np.array([0, 6, 12, 18, 24, 30], dtype=np.int64)
PRED = 280.0 + 8.0 * RNG.standard_normal((4, 6))
TRUTH_T = np.arange("2024-03-01T00", "2024-03-07T00", dtype="datetime64[h]").astype(
    "datetime64[ns]"
)
TRUTH = 280.0 + 8.0 * RNG.standard_normal((144,))

SRC_X = np.arange(8, dtype=np.int64)
ELEV = RNG.uniform(0.0, 2000.0, 8)


@pytest.fixture(scope="module", autouse=True)
def register(xs, spark):
    xs.from_dataset(
        "band",
        Dataset(
            {
                "red": Variable(("y", "x"), RED),
                "nir": Variable(("y", "x"), NIR),
            },
            {"y": Y, "x": X},
        ),
        chunks={"y": 16},
    )
    xs.from_dataset(
        "wx",
        Dataset({"t2m": Variable(("time", "lat", "lon"), T2M)}, {"time": T, "lat": LAT, "lon": LON}),
        chunks={"time": 24},
    )
    xs.from_dataset(
        "fc",
        Dataset(
            {"pred": Variable(("init_time", "lead_hours"), PRED)},
            {"init_time": INIT, "lead_hours": LEADS},
        ),
    )
    xs.from_dataset(
        "era",
        Dataset({"truth": Variable(("time",), TRUTH)}, {"time": TRUTH_T}),
    )
    xs.from_dataset("srtm", Dataset({"elev": Variable(("x",), ELEV)}, {"x": SRC_X}))


def _grid(df: pd.DataFrame, dims: list[str], col: str, shape) -> np.ndarray:
    return (
        df.sort_values(dims)[col].to_numpy().reshape(shape)
    )


# --- 01 NDVI: per-pixel arithmetic (reference 01_ndvi.py:117-121) -----------
def test_case01_ndvi(xs):
    out = xs.sql(
        "SELECT y, x, (nir - red) / (nir + red) AS ndvi FROM band"
    ).df.toPandas()
    got = _grid(out, ["y", "x"], "ndvi", (32, 32))
    np.testing.assert_allclose(got, (NIR - RED) / (NIR + RED), rtol=1e-12)


# --- 02 climatology GROUP BY hour (reference 02_climatology.py:96-107) ------
def test_case02_climatology(xs):
    out = xs.sql(
        "SELECT lat, lon, hour(time) AS h, AVG(t2m) AS clim "
        "FROM wx GROUP BY lat, lon, hour(time)"
    ).df.toPandas()
    got = _grid(out, ["h", "lat", "lon"], "clim", (24, 8, 12))
    want = T2M.reshape(3, 24, 8, 12).mean(axis=0)
    np.testing.assert_allclose(got, want, rtol=1e-12)


# --- 03 zonal mean (reference 03_zonal_mean.py) -----------------------------
def test_case03_zonal_mean(xs):
    out = xs.sql("SELECT lat, AVG(t2m) AS zmean FROM wx GROUP BY lat").df.toPandas()
    got = _grid(out, ["lat"], "zmean", (8,))
    np.testing.assert_allclose(got, T2M.mean(axis=(0, 2)), rtol=1e-12)


# --- 04 anomaly: CTE self-join (reference 04_anomaly.py:89-111) -------------
def test_case04_anomaly(xs):
    out = xs.sql(
        """
        WITH clim AS (
            SELECT lat, lon, hour(time) AS h, AVG(t2m) AS m
            FROM wx GROUP BY lat, lon, hour(time)
        )
        SELECT e.time, e.lat, e.lon, e.t2m - c.m AS anom
        FROM wx e JOIN clim c
          ON hour(e.time) = c.h AND e.lat = c.lat AND e.lon = c.lon
        """
    ).df.toPandas()
    assert len(out) == 72 * 8 * 12
    got = _grid(out, ["time", "lat", "lon"], "anom", (72, 8, 12))
    clim = T2M.reshape(3, 24, 8, 12).mean(axis=0)
    want = T2M - np.tile(clim, (3, 1, 1))
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


def test_case04_anomaly_variance_takes_the_lookup_path(xs):
    """The anomaly self-join reduced to a per-pixel variance: the session
    answers it as a dense lookup join (the climatology is the small side,
    gathered per cell in the reader), matching numpy."""
    from xarray_sql_spark.plans.introspect import aggregate_spec

    q = """
        WITH clim AS (
            SELECT lat, lon, hour(time) AS h, AVG(t2m) AS m
            FROM wx GROUP BY lat, lon, hour(time)
        )
        SELECT e.lat, e.lon, AVG((e.t2m - c.m) * (e.t2m - c.m)) AS var
        FROM wx e JOIN clim c
          ON hour(e.time) = c.h AND e.lat = c.lat AND e.lon = c.lon
        GROUP BY e.lat, e.lon
        """
    assert aggregate_spec(xs.spark.sql(q), xs._payload_views).lookup is not None
    assert xs._with_metadata_aggregates(xs.spark.sql(q)) is not None
    out = xs.sql(q).df.toPandas()
    got = _grid(out, ["lat", "lon"], "var", (8, 12))
    clim = T2M.reshape(3, 24, 8, 12).mean(axis=0)
    want = ((T2M - np.tile(clim, (3, 1, 1))) ** 2).mean(axis=0)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


# --- 05 forecast skill: timestamp+interval join (reference 05:158-171) ------
def test_case05_forecast_skill(xs):
    out = xs.sql(
        """
        SELECT f.lead_hours,
               SQRT(AVG(POWER(f.pred - e.truth, 2))) AS rmse
        FROM fc f JOIN era e
          ON e.time = f.init_time + make_interval(0, 0, 0, 0, CAST(f.lead_hours AS INT), 0, 0)
        GROUP BY f.lead_hours
        """
    ).df.toPandas()
    got = _grid(out, ["lead_hours"], "rmse", (6,))
    valid_idx = (
        (INIT[:, None] - TRUTH_T[0]).astype("timedelta64[h]").astype(int)
        + LEADS[None, :]
    )
    truth_at_valid = TRUTH[valid_idx]
    want = np.sqrt(((PRED - truth_at_valid) ** 2).mean(axis=0))
    np.testing.assert_allclose(got, want, rtol=1e-12)


# --- 06 zonal stats: raster x vector range join (reference 06:119-130) ------
def test_case06_zonal_stats_range_join(xs, spark):
    regions = spark.createDataFrame(
        pd.DataFrame(
            {
                "region": ["a", "b", "c"],
                "lat_min": [30.0, 36.0, 40.0],
                "lat_max": [36.0, 40.0, 44.0],
                "lon_min": [-120.0, -110.0, -104.0],
                "lon_max": [-110.0, -104.0, -98.0],
            }
        )
    )
    regions.createOrReplaceTempView("regions")
    df = xs.sql(
        """
        SELECT r.region, AVG(w.t2m) AS mean_t, COUNT(*) AS n_cells
        FROM wx w JOIN regions r
          ON w.lat >= r.lat_min AND w.lat <= r.lat_max
         AND w.lon >= r.lon_min AND w.lon <= r.lon_max
        GROUP BY r.region
        """
    ).df
    # The tiny vector side must broadcast (reference relies on CBO CollectLeft).
    assert "BroadcastNestedLoopJoin" in df._jdf.queryExecution().executedPlan().toString()
    out = df.toPandas().sort_values("region")
    for region, lat_lo, lat_hi, lon_lo, lon_hi in [
        ("a", 30.0, 36.0, -120.0, -110.0),
        ("b", 36.0, 40.0, -110.0, -104.0),
        ("c", 40.0, 44.0, -104.0, -98.0),
    ]:
        mask = ((LAT >= lat_lo) & (LAT <= lat_hi))[:, None] & (
            (LON >= lon_lo) & (LON <= lon_hi)
        )[None, :]
        want = T2M[:, mask].mean()
        got = out.loc[out.region == region, "mean_t"].iloc[0]
        np.testing.assert_allclose(got, want, rtol=1e-12)
        assert out.loc[out.region == region, "n_cells"].iloc[0] == 72 * mask.sum()


# --- 07 reprojection scalar struct UDF (reference 07:76-113,163-169) --------
A, B, C0, D, E, F0 = 0.03, 0.001, -120.0, -0.0005, 0.025, 30.0


def test_case07_reproject_udf(xs, spark):
    @pandas_udf("lon double, lat double")
    def reproject(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        # Affine stand-in for PROJ (not installed); the operator shape —
        # vectorized scalar UDF returning a struct — is the reference's.
        return pd.DataFrame({"lon": A * x + B * y + C0, "lat": D * x + E * y + F0})

    spark.udf.register("reproject", reproject)
    out = xs.sql(
        "SELECT y, x, reproject(x, y).lon AS lon, reproject(x, y).lat AS lat FROM band"
    ).df.toPandas()
    lon = _grid(out, ["y", "x"], "lon", (32, 32))
    lat = _grid(out, ["y", "x"], "lat", (32, 32))
    xx = np.broadcast_to(X[None, :], (32, 32)).astype(float)
    yy = np.broadcast_to(Y[:, None], (32, 32)).astype(float)
    np.testing.assert_allclose(lon, A * xx + B * yy + C0, rtol=1e-12)
    np.testing.assert_allclose(lat, D * xx + E * yy + F0, rtol=1e-12)


# --- 08 regrid: precomputed weight-table join (reference 08:195-203) --------
def _bilinear_weights(n_dst: int = 15):
    rows = []
    for j in range(n_dst):
        pos = j * (len(SRC_X) - 1) / (n_dst - 1)
        i0 = int(np.floor(pos))
        i1 = min(i0 + 1, len(SRC_X) - 1)
        w1 = pos - i0
        if i0 == i1:
            rows.append((j, i0, 1.0))
        else:
            rows.append((j, i0, 1.0 - w1))
            rows.append((j, i1, w1))
    return pd.DataFrame(rows, columns=["dst_x", "src_x", "weight"])


def test_case08_regrid_weight_join(xs, spark):
    wdf = _bilinear_weights()
    spark.createDataFrame(wdf).createOrReplaceTempView("weights")
    out = xs.sql(
        """
        SELECT w.dst_x, SUM(w.weight * s.elev) AS elev
        FROM weights w JOIN srtm s ON s.x = w.src_x
        GROUP BY w.dst_x
        """
    ).df.toPandas()
    got = _grid(out, ["dst_x"], "elev", (15,))
    want = np.interp(np.linspace(0, 7, 15), SRC_X.astype(float), ELEV)
    np.testing.assert_allclose(got, want, rtol=1e-12)


# --- 09 warp: UDF-computed source position + weight join (reference 09) -----
def test_case09_warp(xs, spark):
    # Warp a 20-point destination axis onto the source grid: a scalar UDF
    # computes the (fractional) source position per destination cell, the
    # join + weighted SUM applies bilinear interpolation — the reference's
    # two-stage warp (reproject UDF feeding the regrid join).
    @pandas_udf("double")
    def src_pos(d: pd.Series) -> pd.Series:
        return d * 7.0 / 19.0

    spark.udf.register("src_pos", src_pos)
    spark.range(20).withColumnRenamed("id", "dst").createOrReplaceTempView("dst_grid")
    out = xs.sql(
        """
        WITH m AS (
            SELECT dst, src_pos(dst) AS p,
                   CAST(floor(src_pos(dst)) AS BIGINT) AS i0,
                   LEAST(CAST(floor(src_pos(dst)) AS BIGINT) + 1, 7) AS i1
            FROM dst_grid
        )
        SELECT m.dst,
               s0.elev * (1 - (m.p - m.i0)) + s1.elev * (m.p - m.i0) AS elev
        FROM m JOIN srtm s0 ON s0.x = m.i0
               JOIN srtm s1 ON s1.x = m.i1
        """
    ).df.toPandas()
    got = _grid(out, ["dst"], "elev", (20,))
    want = np.interp(np.arange(20) * 7.0 / 19.0, SRC_X.astype(float), ELEV)
    np.testing.assert_allclose(got, want, rtol=1e-12)


# --- reverse pivot of a join result (reference ds.py to_dataset on case 04) -
def test_case04_anomaly_to_dataset(xs):
    ds = (
        xs.sql(
            """
            WITH clim AS (
                SELECT lat, lon, hour(time) AS h, AVG(t2m) AS m
                FROM wx GROUP BY lat, lon, hour(time)
            )
            SELECT e.time, e.lat, e.lon, e.t2m - c.m AS anom
            FROM wx e JOIN clim c
              ON hour(e.time) = c.h AND e.lat = c.lat AND e.lon = c.lon
            ORDER BY e.time, e.lat, e.lon
            """
        ).to_dataset(dims=("time", "lat", "lon"))
    )
    # (first-appearance coord order = sorted, thanks to the ORDER BY —
    # the reference's convention for deterministic reverse pivots)
    assert ds.sizes == {"time": 72, "lat": 8, "lon": 12}
    clim = T2M.reshape(3, 24, 8, 12).mean(axis=0)
    want = T2M - np.tile(clim, (3, 1, 1))
    got = ds.data_vars["anom"].values()
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)
