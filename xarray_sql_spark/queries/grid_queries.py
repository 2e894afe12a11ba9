"""Grid-engine queries inside the driver's DuckDB-oracle gate.

The grid tables live in numpy, not parquet, so a DuckDB oracle can't read
them — instead the fixture grid is *formula-defined* on exactly
representable binary fractions (halves/quarters), and the oracle SQL
regenerates the identical rows with ``range()`` cross joins. That puts the
whole Python DataSource path — registration, partition pruning, projection,
strided pivot, Catalyst aggregation on top — under the same hash-compare
gate as the relational queries, not just under pytest.

Values are exact: v = th*1.0 + yi*0.5 + xi*0.25 sums of powers of two, so
Spark's and DuckDB's float arithmetic agree bit-for-bit with no rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.operators.layout import zorder_sql_4bit
from xarray_sql_spark.registry import query
from xarray_sql_spark.xr_session import XarraySession

N_T, N_Y, N_X = 240, 16, 16  # 10 days hourly x 16 x 16 = 61,440 cells


def _fixture_dataset() -> Dataset:
    t = np.arange("2024-01-01T00", "2024-01-11T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    ti = np.arange(N_T, dtype=np.int64)
    v = (
        (ti % 24)[:, None, None] * 1.0
        + y[None, :, None] * 0.5
        + x[None, None, :] * 0.25
    )
    return Dataset({"v": Variable(("time", "y", "x"), v)}, {"time": t, "y": y, "x": x})


def _register(spark: SparkSession, view: str) -> XarraySession:
    xs = XarraySession(spark)
    xs.from_dataset(view, _fixture_dataset(), chunks={"time": 24})
    return xs


@query(
    "gq01_grid_climatology",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           CAST(ti % 24 AS INT) AS h,
           avg(v) AS clim, CAST(count(*) AS BIGINT) AS n
    FROM cells GROUP BY yi, xi, ti % 24
    """,
    tags=("grid", "datasource", "climatology"),
    bench=False,  # driver-gate coverage; grid perf is measured in pytest/bench grids
)
def gq01_grid_climatology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day climatology over the Python DataSource grid table: the
    full scan streams 61,440 pivoted rows from 10 chunk partitions into a
    Catalyst hash aggregate (partial per partition, one shuffle on the
    6,144 group keys). ``sf_dir`` is unused — the grid is formula-defined."""
    xs = _register(spark, "gq_grid")
    return (
        xs.sql(
            "SELECT y, x, hour(time) AS h, AVG(v) AS clim, COUNT(*) AS n "
            "FROM gq_grid GROUP BY y, x, hour(time)"
        ).df
        .select("y", "x", F.col("h").cast("int").alias("h"), "clim", "n")
    )


@query(
    "gq02_grid_pruned_slice",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT CAST(epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                 + ti * INTERVAL 1 HOUR) AS BIGINT) AS t_us,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x, v
    FROM cells
    WHERE ti >= 48 AND ti < 72 AND yi BETWEEN 4 AND 7
    """,
    tags=("grid", "datasource", "pruning"),
    bench=False,
)
def gq02_grid_pruned_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A filtered slice through the grid scan: the time predicate prunes 9
    of 10 chunk partitions inside ``partitions()`` (pushFilters coordinate
    masks) before any read, and the reader emits only the cells that pass
    the time and y predicates. Both are exact, so Catalyst keeps no Filter
    for them (the reference re-applies its Inexact filters row by row,
    src/lib.rs:548-565)."""
    xs = _register(spark, "gq_grid2")
    return (
        xs.sql(
            "SELECT time, y, x, v FROM gq_grid2 "
            "WHERE time >= TIMESTAMP '2024-01-03 00:00:00' "
            "  AND time < TIMESTAMP '2024-01-04 00:00:00' "
            "  AND y BETWEEN 4 AND 7"
        ).df
        # grid time is TIMESTAMP_NTZ; session TZ is UTC, so the cast is the
        # identity mapping DuckDB's epoch_us applies to its naive timestamps
        .select(F.unix_micros(F.col("time").cast("timestamp_ltz")).alias("t_us"), "y", "x", "v")
    )


N_DAYS = 120  # four 30-day months of a 360_day-calendar daily series


@query(
    "gq03_cftime_360day",
    oracle=f"""
    SELECT CAST(i AS BIGINT) AS time, i * 0.25 AS v
    FROM (SELECT unnest(range({N_DAYS})) AS i)
    WHERE i >= 30 AND i < 60
    """,
    tags=("grid", "cftime", "calendar"),
    bench=False,
)
def gq03_cftime_360day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-Gregorian CF calendar through the driver gate: the time axis is
    int64 day-offsets under calendar=360_day (lossless tier — reference
    cftime.py:196-209), and the WHERE clause filters with the auto-
    registered ``cftime('YYYY-MM-DD')`` UDF: 2000-02-01 is offset 30 in a
    360-day calendar (every month has 30 days). The oracle hardcodes that
    arithmetic."""
    ds = Dataset(
        {"v": Variable(("time",), np.arange(N_DAYS, dtype=np.float64) * 0.25)},
        {"time": np.arange(N_DAYS, dtype=np.int64)},
    )
    ds.coord_attrs["time"] = {
        "units": "days since 2000-01-01",
        "calendar": "360_day",
    }
    xs = XarraySession(spark)
    xs.from_dataset("gq_cf", ds, chunks={"time": 30})
    return xs.sql(
        "SELECT time, v FROM gq_cf "
        "WHERE time >= cftime('2000-02-01') AND time < cftime('2000-03-01')"
    ).df


@query(
    "gq04_nan_null_semantics",
    oracle=f"""
    WITH cells AS (
        SELECT i, CASE WHEN i % 7 = 0 THEN NULL ELSE i * 0.5 END AS v
        FROM (SELECT unnest(range({N_DAYS})) AS i)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(v) AS BIGINT) AS n_present,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           avg(v) AS avg_present,
           min(v) AS min_v, max(v) AS max_v
    FROM cells
    """,
    tags=("grid", "null-semantics"),
    bench=False,
)
def gq04_nan_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The load-bearing NaN→null convention under the driver gate: the grid
    stores NaN every 7th cell; the pivot maps NaN to SQL NULL at batch build
    (reference df.py:271-273), so COUNT(v)/AVG/MIN/MAX skip exactly those
    cells and IS NULL counts them — Spark would otherwise propagate NaN
    through aggregates and diverge from every SQL engine."""
    vals = np.arange(N_DAYS, dtype=np.float64) * 0.5
    vals[::7] = np.nan
    ds = Dataset(
        {"v": Variable(("i",), vals)}, {"i": np.arange(N_DAYS, dtype=np.int64)}
    )
    xs = XarraySession(spark)
    xs.from_dataset("gq_nan", ds, chunks={"i": 40})
    return xs.sql(
        "SELECT COUNT(*) AS n_rows, COUNT(v) AS n_present, "
        "SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null, "
        "AVG(v) AS avg_present, MIN(v) AS min_v, MAX(v) AS max_v FROM gq_nan"
    ).df


@query(
    "gq05_grid_zonal_bands",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    bands AS (
        SELECT i AS band, i * 4 AS lo, (i + 1) * 4 AS hi
        FROM (SELECT unnest(range(4)) AS i)
    )
    SELECT CAST(b.band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_cells,
           avg(c.v) AS mean_v, min(c.v) AS min_v, max(c.v) AS max_v
    FROM cells c JOIN bands b ON c.yi >= b.lo AND c.yi < b.hi
    GROUP BY b.band
    """,
    tags=("grid", "datasource", "range-join", "geospatial-shape"),
    bench=False,
)
def gq05_grid_zonal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over the DataSource grid (geospatial case 06 shape,
    reference 06_zonal_vector.py:119-130): cells land in 4 latitude bands
    via a BETWEEN-style theta join against a broadcast 4-row band table —
    BroadcastNestedLoopJoin with the grid side streaming, zero shuffle
    before the per-band aggregate. Values are exact quarters, so sums are
    exact in any order and both engines' single division rounds alike."""
    xs = _register(spark, "gq_grid5")
    bands = spark.range(4).select(
        F.col("id").alias("band"),
        (F.col("id") * 4).alias("lo"),
        ((F.col("id") + 1) * 4).alias("hi"),
    )
    g = xs.sql("SELECT y, v FROM gq_grid5").df
    return (
        g.join(F.broadcast(bands), (g.y >= F.col("lo")) & (g.y < F.col("hi")))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_cells"),
            F.avg("v").alias("mean_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
    )


@query(
    "gq06_grid_anomaly_selfjoin",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    clim AS (
        SELECT yi, xi, ti % 24 AS h, avg(v) AS clim_v
        FROM cells GROUP BY yi, xi, ti % 24
    )
    SELECT CAST(c.yi AS BIGINT) AS y, CAST(c.xi AS BIGINT) AS x,
           avg(c.v - cl.clim_v) AS mean_anom,
           max(abs(c.v - cl.clim_v)) AS max_abs_anom
    FROM cells c
    JOIN clim cl ON cl.yi = c.yi AND cl.xi = c.xi AND cl.h = c.ti % 24
    GROUP BY c.yi, c.xi
    """,
    tags=("grid", "datasource", "join", "geospatial-shape"),
    bench=False,
)
def gq06_grid_anomaly_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly-vs-climatology CTE self-join over the DataSource grid
    (geospatial case 04 shape, reference 04_anomaly.py:89-111): the grid
    scans once into a climatology aggregate, re-joins against a second scan
    on (y, x, hour), and reduces the anomaly per cell column. The fixture's
    value formula is hour-periodic, so every anomaly is exactly 0 — any
    join-key misalignment or float drift shows up as a nonzero and fails
    the hash gate."""
    xs = _register(spark, "gq_grid6")
    out = xs.sql(
        """
        WITH clim AS (
            SELECT y, x, hour(time) AS h, AVG(v) AS clim_v
            FROM gq_grid6 GROUP BY y, x, hour(time)
        )
        SELECT g.y AS y, g.x AS x,
               AVG(g.v - cl.clim_v) AS mean_anom,
               MAX(ABS(g.v - cl.clim_v)) AS max_abs_anom
        FROM gq_grid6 g
        JOIN clim cl ON cl.y = g.y AND cl.x = g.x AND cl.h = hour(g.time)
        GROUP BY g.y, g.x
        """
    ).df
    return out


@query(
    "gq07_zorder_layout",
    oracle=f"""
    WITH cells AS (
        SELECT y.i AS yi, x.i AS xi
        FROM (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    sp AS (
        SELECT yi, xi,
               {zorder_sql_4bit('yi', 'xi')} AS zkey
        FROM cells
    )
    SELECT CAST(zkey // 64 AS BIGINT) AS zquad,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(yi) AS BIGINT) AS min_y, CAST(max(yi) AS BIGINT) AS max_y,
           CAST(min(xi) AS BIGINT) AS min_x, CAST(max(xi) AS BIGINT) AS max_x
    FROM sp GROUP BY zkey // 64
    """,
    tags=("grid", "layout", "zorder", "beyond-reference"),
    bench=False,
)
def gq07_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over the 16×16 grid plane, rolled up to the 4
    top-level quadrants (zkey div 64). The oracle replicates the exact bit
    interleave; the quadrant min/max rows ARE the data-skipping proof — each
    quadrant's (y, x) bounds cover one disjoint 8×8 box, which is what makes
    min/max row-group stats selective for 2-D box predicates after a
    Z-order sort."""
    from xarray_sql_spark.operators.layout import zorder_key_4bit

    cells = (
        spark.range(N_Y)
        .select(F.col("id").alias("yi"))
        .crossJoin(spark.range(N_X).select(F.col("id").alias("xi")))
    )
    z = cells.select(
        "yi", "xi", zorder_key_4bit(F.col("yi"), F.col("xi")).alias("zkey")
    )
    return (
        z.groupBy((F.col("zkey") / 64).cast("bigint").alias("zquad"))
        .agg(
            F.count("*").alias("n_cells"),
            F.min("yi").alias("min_y"),
            F.max("yi").alias("max_y"),
            F.min("xi").alias("min_x"),
            F.max("xi").alias("max_x"),
        )
    )


@query(
    "gq08_grid_regrid_weights",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    weights AS (
        SELECT i AS dst, i * 2 AS y, 0.75 AS w FROM (SELECT unnest(range(8)) AS i)
        UNION ALL
        SELECT i AS dst, i * 2 + 1 AS y, 0.25 AS w FROM (SELECT unnest(range(8)) AS i)
    )
    SELECT CAST(w.dst AS BIGINT) AS dst_y, CAST(c.xi AS BIGINT) AS x,
           sum(c.v * w.w) AS regridded, CAST(count(*) AS BIGINT) AS n_src
    FROM cells c JOIN weights w ON c.yi = w.y
    GROUP BY w.dst, c.xi
    """,
    tags=("grid", "datasource", "regrid", "geospatial-shape"),
    bench=False,
)
def gq08_grid_regrid_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-weight regrid join over the DataSource grid (geospatial case
    08 shape, reference 08_regrid_weights.py:195-203): a 16-row source y
    axis collapses onto an 8-row destination axis through an explicit
    (src_y, dst_y, weight) sparse matrix — two entries per destination,
    weights 0.75/0.25 (exact binary fractions, so ``SUM(v*w)`` is exact in
    any accumulation order and both engines agree bit-for-bit). The weight
    table is broadcast (a real regrid matrix is O(dst x stencil), small
    relative to the fact grid), the grid side streams from the chunked
    scan, and the one shuffle is the (dst, x) group key — the shape that
    keeps a 100 TB regrid a map-side join + bounded-key aggregate."""
    xs = _register(spark, "gq_grid8")
    dst = spark.range(8).select(F.col("id").alias("dst"))
    weights = dst.select(
        "dst", (F.col("dst") * 2).alias("wy"), F.lit(0.75).alias("w")
    ).unionAll(
        dst.select("dst", (F.col("dst") * 2 + 1).alias("wy"), F.lit(0.25).alias("w"))
    )
    g = xs.sql("SELECT y, x, v FROM gq_grid8").df
    return (
        g.join(F.broadcast(weights), g.y == F.col("wy"))
        .groupBy(F.col("dst").alias("dst_y"), F.col("x"))
        .agg(
            F.sum(F.col("v") * F.col("w")).alias("regridded"),
            F.count("*").alias("n_src"),
        )
    )


N_INIT = 216  # forecast init times: valid = init + 24 h stays inside obs range


@query(
    "gq09_grid_forecast_skill",
    oracle=f"""
    WITH obs AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               t.i * 0.25 + y.i * 0.5 + x.i * 1.0 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    fcst AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i + 24) * 0.25 + y.i * 0.5 + x.i * 1.0 + x.i * 0.25 AS vf
        FROM (SELECT unnest(range({N_INIT})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT CAST(o.yi AS BIGINT) AS y,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(o.v - f.vf), 6) AS mean_err,
           round(sqrt(avg(power(o.v - f.vf, 2))), 6) AS rmse
    FROM obs o
    JOIN fcst f ON o.ti = f.ti + 24 AND o.yi = f.yi AND o.xi = f.xi
    GROUP BY o.yi
    """,
    tags=("grid", "datasource", "interval-join", "geospatial-shape"),
    bench=False,
)
def gq09_grid_forecast_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-skill join over TWO DataSource grid tables (geospatial case
    05 shape, reference 05_forecast_skill.py:158-171): observations join a
    24-hour-lead forecast on ``obs.time = fcst.init + INTERVAL 24 HOURS``
    — interval arithmetic in the join key, computed on TIMESTAMP_NTZ grid
    coordinates — then RMSE/bias per y row via SQRT/POWER. The obs value
    ramps with absolute time (not hour-of-day), so a 24-hour misalignment
    shifts every error by 6.0 and fails the hash gate; the forecast's
    x-dependent bias (x * 0.25) makes axis swaps visible. Both scans are
    chunked DataSource streams; the equi+interval key shuffles fact-sized
    but bounded-width rows, and the group key is the 16-row y axis."""
    t_obs = np.arange("2024-01-01T00", "2024-01-11T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    t_init = t_obs[:N_INIT]
    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    ti = np.arange(N_T, dtype=np.int64)
    v_obs = (
        ti[:, None, None] * 0.25 + y[None, :, None] * 0.5 + x[None, None, :] * 1.0
    )
    tif = np.arange(N_INIT, dtype=np.int64)
    v_fc = (
        (tif[:, None, None] + 24) * 0.25
        + y[None, :, None] * 0.5
        + x[None, None, :] * 1.25
    )
    xs = XarraySession(spark)
    xs.from_dataset(
        "gq_obs",
        Dataset({"v": Variable(("time", "y", "x"), v_obs)}, {"time": t_obs, "y": y, "x": x}),
        chunks={"time": 48},
    )
    xs.from_dataset(
        "gq_fcst",
        Dataset(
            {"vf": Variable(("init", "y", "x"), v_fc)}, {"init": t_init, "y": y, "x": x}
        ),
        chunks={"init": 48},
    )
    return xs.sql(
        """
        SELECT o.y AS y, COUNT(*) AS n,
               ROUND(AVG(o.v - f.vf), 6) AS mean_err,
               ROUND(SQRT(AVG(POWER(o.v - f.vf, 2))), 6) AS rmse
        FROM gq_obs o
        JOIN gq_fcst f
          ON o.time = f.init + INTERVAL 24 HOURS
         AND o.y = f.y AND o.x = f.x
        GROUP BY o.y
        """
    ).df


@query(
    "gq10_grid_reproject_udf",
    oracle=f"""
    WITH cells AS (
        SELECT y.i AS yi, x.i AS xi
        FROM (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    proj AS (
        SELECT yi, xi,
               50.0 + yi * 0.25 AS lat,
               -120.0 + xi * 0.5 + yi * 0.125 AS lon
        FROM cells
    )
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x, lat, lon,
           lat + lon AS checksum
    FROM proj
    """,
    tags=("grid", "datasource", "udf", "geospatial-shape"),
    bench=False,
)
def gq10_grid_reproject_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-returning vectorized pandas UDF over the DataSource grid
    (geospatial case 07 shape, reference 07_reproject_udf.py:76-113,163-169):
    an affine "reprojection" maps each (y, x) cell to (lat, lon) inside an
    Arrow-batched pandas UDF returning a struct, then SQL accesses the
    struct fields. The affine coefficients are exact binary fractions so
    both engines agree bit-for-bit. The reference must run its PROJ UDF
    serially (thread-unsafe C library); Spark executes the UDF per
    partition in separate Python workers, so the same query parallelizes —
    the scale story for UDF-heavy raster math. A 16x16 slice of the grid
    keeps the result table small; the UDF sees Arrow batches, not rows."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lat: double, lon: double>")
    def reproject(cell: pd.Series) -> pd.DataFrame:
        # single-Series -> DataFrame is the struct-returning pandas-UDF
        # signature PySpark's type-hint inference accepts (same as q21);
        # the flat cell id packs (y, x) losslessly for a 16-wide row
        y, x = cell // N_X, cell % N_X
        return pd.DataFrame({"lat": 50.0 + y * 0.25, "lon": -120.0 + x * 0.5 + y * 0.125})

    xs = _register(spark, "gq_grid10")
    g = xs.sql(
        "SELECT DISTINCT y, x FROM gq_grid10"
    ).df
    p = g.select("y", "x", reproject(F.col("y") * N_X + F.col("x")).alias("p"))
    return p.select(
        "y",
        "x",
        F.col("p.lat").alias("lat"),
        F.col("p.lon").alias("lon"),
        (F.col("p.lat") + F.col("p.lon")).alias("checksum"),
    )


@query(
    "gq11_grid_ndvi",
    oracle=f"""
    WITH cells AS (
        SELECT y.i AS yi, x.i AS xi
        FROM (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    bands AS (
        SELECT yi, xi,
               CASE WHEN (yi + xi) % 7 = 0 THEN NULL
                    ELSE 0.25 + yi * 0.25 + xi * 0.125 END AS red,
               CASE WHEN (yi + xi) % 7 = 0 THEN NULL
                    ELSE 0.75 + yi * 0.25 + xi * 0.0625 END AS nir
        FROM cells
    )
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           (nir - red) / (nir + red) AS ndvi
    FROM bands
    """,
    tags=("grid", "datasource", "band-math", "geospatial-shape"),
    bench=False,
)
def gq11_grid_ndvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pixel band arithmetic over a two-variable DataSource grid
    (geospatial case 01 shape, reference 01_ndvi.py:27-37): NDVI =
    (nir - red) / (nir + red) as plain column arithmetic — the
    ``apply_ufunc`` of the array world is a SELECT expression here. Cloudy
    pixels are NaN in BOTH bands; the pivot maps NaN to SQL NULL (reference
    df.py:271-273) and NULL propagates through the arithmetic, so the mask
    costs nothing — no CASE in the query. Band values are exact binary
    fractions and IEEE division is deterministic on identical operands, so
    the unrounded ratios hash-match DuckDB bit-for-bit. Both variables
    stream from the same chunked scan: one pass, zero joins, and at 100 TB
    the expression runs inside whole-stage codegen with no shuffle at all."""
    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    red = 0.25 + y[:, None] * 0.25 + x[None, :] * 0.125
    nir = 0.75 + y[:, None] * 0.25 + x[None, :] * 0.0625
    mask = (y[:, None] + x[None, :]) % 7 == 0
    red, nir = red.copy(), nir.copy()
    red[mask] = np.nan
    nir[mask] = np.nan
    ds = Dataset(
        {
            "red": Variable(("y", "x"), red),
            "nir": Variable(("y", "x"), nir),
        },
        {"y": y, "x": x},
    )
    xs = XarraySession(spark)
    xs.from_dataset("gq_ndvi", ds, chunks={"y": 4})
    return xs.sql(
        "SELECT y, x, (nir - red) / (nir + red) AS ndvi FROM gq_ndvi"
    ).df


@query(
    "gq12_grid_zonal_mean",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT CAST(yi AS BIGINT) AS lat_band,
           avg(v) AS zonal_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM cells GROUP BY yi
    """,
    tags=("grid", "datasource", "zonal-mean", "geospatial-shape"),
    bench=False,
)
def gq12_grid_zonal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array reduction that is secretly a GROUP BY (geospatial case 03
    shape, reference 03_zonal_mean.py:23-30): ``mean over (time, x)``
    becomes ``GROUP BY y`` over the pivoted grid — a 16-key hash aggregate
    fed by partial aggregation inside every scan partition, so the shuffle
    carries 16 rows per partition regardless of grid size. Cell values are
    exact binary fractions: partial sums are exactly representable at any
    accumulation order, and both engines' final sum/count division rounds
    identically — the hash gate needs no rounding."""
    xs = _register(spark, "gq_grid12")
    return xs.sql(
        "SELECT y AS lat_band, AVG(v) AS zonal_mean, COUNT(*) AS n "
        "FROM gq_grid12 GROUP BY y"
    ).df


N_DST = 8  # warp destination grid is N_DST x N_DST


@query(
    "gq13_grid_warp",
    oracle=f"""
    WITH src AS (
        SELECT y.i AS yi, x.i AS xi, y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    dst AS (
        SELECT dy.i AS dy, dx.i AS dx,
               dy.i * 1.5 + 0.25 AS sy, dx.i * 1.75 + 0.5 AS sx
        FROM (SELECT unnest(range({N_DST})) AS i) dy,
             (SELECT unnest(range({N_DST})) AS i) dx
    ),
    stencil AS (
        SELECT dy, dx,
               CAST(floor(sy) AS BIGINT) + oy.i AS sy_i,
               CAST(floor(sx) AS BIGINT) + ox.i AS sx_i,
               (CASE WHEN oy.i = 0 THEN 1 - (sy - floor(sy))
                     ELSE sy - floor(sy) END)
               * (CASE WHEN ox.i = 0 THEN 1 - (sx - floor(sx))
                       ELSE sx - floor(sx) END) AS w
        FROM dst,
             (SELECT unnest(range(2)) AS i) oy,
             (SELECT unnest(range(2)) AS i) ox
    )
    SELECT CAST(s.dy AS BIGINT) AS dst_y, CAST(s.dx AS BIGINT) AS dst_x,
           sum(s.w * c.v) AS warped
    FROM stencil s JOIN src c ON c.yi = s.sy_i AND c.xi = s.sx_i
    GROUP BY s.dy, s.dx
    """,
    tags=("grid", "datasource", "udf", "regrid", "geospatial-shape"),
    bench=False,
)
def gq13_grid_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warp = reproject + resample in one query (geospatial case 09 shape,
    reference 09_warp.py:19-45,216-256): case 07's coordinate-transform UDF
    composed with case 08's sparse-weight JOIN. A struct-returning pandas
    UDF maps each destination cell to fractional source coordinates; JVM
    expressions derive the 4-point bilinear stencil (floor + frac weights)
    and ``posexplode``-style expansion yields (src_y, src_x, w) rows; the
    source grid streams from the chunked DataSource scan and joins the
    BROADCAST stencil on the integer cell key; SUM(w*v) per destination
    cell finishes it. All coefficients are exact binary fractions, so the
    bilinear products and their 4-term sums are exact in both engines. The
    100 TB shape: the stencil is O(dst cells x 4) — tiny next to the source
    raster — so the join is map-side; the only shuffle is the dst-cell
    group key, and the UDF batch-parallelizes where the reference must run
    its PROJ transform serially (thread-unsafe C library)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<sy: double, sx: double>")
    def reproject(cell: pd.Series) -> pd.DataFrame:
        dy, dx = cell // N_DST, cell % N_DST
        return pd.DataFrame({"sy": dy * 1.5 + 0.25, "sx": dx * 1.75 + 0.5})

    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    v = y[:, None] * 0.5 + x[None, :] * 0.25
    xs = XarraySession(spark)
    xs.from_dataset(
        "gq_warp_src",
        Dataset({"v": Variable(("y", "x"), v)}, {"y": y, "x": x}),
        chunks={"y": 4},
    )
    src = xs.sql("SELECT y, x, v FROM gq_warp_src").df

    d = spark.range(N_DST * N_DST).select(
        F.expr(f"id div {N_DST}").alias("dy"),
        (F.col("id") % N_DST).alias("dx"),
        reproject(F.col("id")).alias("p"),
    )
    d = d.select(
        "dy",
        "dx",
        F.floor("p.sy").cast("long").alias("y0"),
        (F.col("p.sy") - F.floor("p.sy")).alias("fy"),
        F.floor("p.sx").cast("long").alias("x0"),
        (F.col("p.sx") - F.floor("p.sx")).alias("fx"),
    )
    one = F.lit(1.0)
    stencil = d.select(
        "dy",
        "dx",
        F.explode(
            F.array(
                F.struct(
                    F.col("y0").alias("sy"),
                    F.col("x0").alias("sx"),
                    ((one - F.col("fy")) * (one - F.col("fx"))).alias("w"),
                ),
                F.struct(
                    F.col("y0").alias("sy"),
                    (F.col("x0") + 1).alias("sx"),
                    ((one - F.col("fy")) * F.col("fx")).alias("w"),
                ),
                F.struct(
                    (F.col("y0") + 1).alias("sy"),
                    F.col("x0").alias("sx"),
                    (F.col("fy") * (one - F.col("fx"))).alias("w"),
                ),
                F.struct(
                    (F.col("y0") + 1).alias("sy"),
                    (F.col("x0") + 1).alias("sx"),
                    (F.col("fy") * F.col("fx")).alias("w"),
                ),
            )
        ).alias("s"),
    )
    return (
        src.join(
            F.broadcast(stencil),
            (src.y == F.col("s.sy")) & (src.x == F.col("s.sx")),
        )
        .groupBy(F.col("dy").alias("dst_y"), F.col("dx").alias("dst_x"))
        .agg(F.sum(F.col("s.w") * F.col("v")).alias("warped"))
    )


@query(
    "gq14_zarr_roundtrip",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    vmean AS (
        SELECT yi, xi, avg(v) AS vmean FROM cells GROUP BY yi, xi
    )
    SELECT CAST(yi AS BIGINT) AS y, sum(vmean) AS total, 
           CAST(count(*) AS BIGINT) AS n_cols
    FROM vmean GROUP BY yi
    """,
    tags=("grid", "datasource", "sink", "roundtrip"),
    bench=False,
)
def gq14_zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole loop under one hash gate: DataSource scan -> SQL aggregate
    -> EXECUTOR-PARALLEL Zarr sink (operators/zarr_sink.py: rows shuffle
    once on their chunk key, each chunk file written from the executor
    holding it) -> public-spec Zarr v2 reader -> re-registered DataSource
    table -> second SQL aggregate. Values are exact binary fractions, and
    float64 bits survive the zlib-compressed store losslessly, so the
    round-tripped result hash-matches an oracle that never left SQL. This
    is the query-shaped twin of the sink's pytest coverage — driver-value
    evidence that the write path preserves every cell."""
    import os

    xs = _register(spark, "gq_grid14")
    res = xs.sql(
        "SELECT y, x, AVG(v) AS vmean FROM gq_grid14 GROUP BY y, x"
    )
    xs2 = XarraySession(spark)
    path = os.path.join(xs2._tmpdir, "roundtrip.zarr")
    res.to_zarr_distributed(path, dims=["y", "x"], chunks={"y": 4})
    xs2.from_dataset(
        "gq_grid14_back", Dataset.open_store(path), chunks={"y": 4}, store=path
    )
    return xs2.sql(
        "SELECT y, SUM(vmean) AS total, COUNT(*) AS n_cols "
        "FROM gq_grid14_back GROUP BY y"
    ).df


@query(
    "gq15_filtered_store",
    oracle="""
    WITH cells AS (
        SELECT 1000 + 3 * i AS k, i * 0.25 AS v
        FROM (SELECT unnest(range(48)) AS i)
    )
    SELECT CAST(k % 4 AS INT) AS bucket,
           sum(v) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM cells WHERE k >= 1036
    GROUP BY k % 4
    ORDER BY bucket
    """,
    tags=("grid", "datasource", "zarr", "filters"),
    bench=False,
)
def gq15_filtered_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numcodecs filter decode under the hash gate: the store is written
    here with a DELTA-packed int64 coordinate (constant step 3, diffs
    stored as <i4) and a FIXEDSCALEOFFSET-packed float variable
    (scale 4 = 2^2, so enc/scale is exact binary arithmetic), encoded
    byte-for-byte the way numcodecs does. The query scans it through the
    Python DataSource (4 chunks of 12; k >= 1036 is exactly chunk 1's
    first coordinate, so chunk 0's bounds [1000, 1033] prune — pinned by
    tests/test_grid_engine.py::test_filtered_store_prunes_partitions)
    and aggregates; the oracle regenerates the identical values
    without ever touching the store — a hash match proves the filter
    inversion is bit-exact end to end."""
    import json
    import os
    import zlib

    xs = XarraySession(spark)
    path = os.path.join(xs._tmpdir, "filt.zarr")
    os.makedirs(os.path.join(path, "k"))
    os.makedirs(os.path.join(path, "v"))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    i = np.arange(48, dtype=np.int64)
    k = 1000 + 3 * i
    v = i * 0.25

    def _arr(name, dtype, filters, chunk_payloads):
        meta = {
            "zarr_format": 2, "shape": [48], "chunks": [12], "dtype": dtype,
            "compressor": {"id": "zlib", "level": 1}, "fill_value": 0,
            "order": "C", "filters": filters,
        }
        with open(os.path.join(path, name, ".zarray"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(path, name, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": ["k"]}, f)
        for ci, payload in enumerate(chunk_payloads):
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
    v_chunks = [
        np.round(v[ci * 12 : (ci + 1) * 12] * 4.0).astype("<i2").tobytes()
        for ci in range(4)
    ]
    _arr(
        "v", "<f8",
        [{"id": "fixedscaleoffset", "offset": 0.0, "scale": 4.0,
          "dtype": "<f8", "astype": "<i2"}],
        v_chunks,
    )

    xs.from_dataset(
        "gq_grid15", Dataset.open_store(path), chunks={"k": 12}, store=path
    )
    return xs.sql(
        "SELECT CAST(k % 4 AS INT) AS bucket, SUM(v) AS total, COUNT(*) AS n "
        "FROM gq_grid15 WHERE k >= 1036 GROUP BY k % 4 ORDER BY bucket"
    ).df


@query(
    "gq16_stats_aggregates",
    oracle=f"""
    WITH cells AS (
        SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (t.i) HOUR AS ts,
               y.i AS yi
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS t0,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS t1,
           CAST(count(*) AS BIGINT) AS n
    FROM cells
    WHERE ts >= TIMESTAMP '2024-01-04 12:00:00' AND yi BETWEEN 4 AND 7
    """,
    tags=("grid", "datasource", "stats", "metadata"),
    bench=False,
)
def gq16_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics-aggregate shortcut under the hash gate: MIN/MAX/
    COUNT over a dim-filtered grid scan is answered from the driver-held
    coordinate arrays (xr_session._with_metadata_aggregates — zero jobs,
    zero chunk reads; read-log proof in tests/test_stats_arrow.py), and
    the value must still hash-match DuckDB computing the same aggregates
    the hard way over the regenerated cells. Timestamp formatting happens
    OUTSIDE xs.sql so the optimized plan root stays the bare Aggregate
    the shortcut matches."""
    xs = _register(spark, "gq_grid16")
    inner = xs.sql(
        "SELECT MIN(time) AS t0m, MAX(time) AS t1m, COUNT(*) AS n FROM gq_grid16 "
        "WHERE time >= TIMESTAMP '2024-01-04 12:00:00' AND y BETWEEN 4 AND 7"
    ).df
    return inner.select(
        F.date_format("t0m", "yyyy-MM-dd HH:mm:ss").alias("t0"),
        F.date_format("t1m", "yyyy-MM-dd HH:mm:ss").alias("t1"),
        F.col("n"),
    )


@query(
    "gq19_grid_rolling_mean",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE y.i < 4 AND x.i < 4
    )
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           avg(v) OVER (PARTITION BY yi, xi ORDER BY ti
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll3
    FROM cells ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "window", "rolling"),
    bench=False,
)
def gq19_grid_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``rolling(time=3).mean()`` parity through SQL: a centered-
    trailing 3-step moving average per (y, x) cell via a ROWS window over
    the pivoted grid — partial windows at the series head included, like
    xarray's min_periods=1. The 16-cell slice keeps the hash output
    bounded; exact binary-fraction values make every window sum exact,
    so the single avg division is bit-identical cross-engine.

    Scale: ONE exchange on the (y, x) partition key; each cell's time
    series sorts independently — the parallel-by-cell shape rolling
    reductions keep at any grid size."""
    xs = _register(spark, "gq_grid19")
    # hour index 0..N_T-1 from calendar fields (gq01's proven hour()
    # path; the fixture spans Jan 1-10 so dayofyear is unambiguous)
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid19 WHERE y < 4 AND x < 4"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti").rowsBetween(-2, 0)
    return (
        df.withColumn("roll3", F.avg("v").over(w))
        .select(F.col("ti").cast("long").alias("ti"), "y", "x", "roll3")
        .orderBy("ti", "y", "x")
    )


@query(
    "gq20_grid_resample_daily",
    oracle=f"""
    WITH cells AS (
        SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (t.i) HOUR AS ts,
               y.i AS yi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
           CAST(yi AS BIGINT) AS y,
           avg(v) AS daily_mean,
           CAST(count(*) AS BIGINT) AS n
    FROM cells GROUP BY 1, 2 ORDER BY day, y
    """,
    tags=("grid", "datasource", "resample"),
    bench=False,
)
def gq20_grid_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``resample(time='1D').mean()`` parity through SQL: daily
    means per latitude band via date_trunc GROUP BY over the pivoted
    grid — the time-bucketed downsampling every reanalysis pipeline
    runs. Exact binary-fraction values: each day's sum over 24 x 16
    cells is exact, one division per group. Map-side partial aggregation
    bounds the shuffle at (days x bands) rows regardless of grid size."""
    xs = _register(spark, "gq_grid20")
    return xs.sql(
        "SELECT date_format(date_trunc('DAY', time), 'yyyy-MM-dd') AS day, y, "
        "AVG(v) AS daily_mean, COUNT(*) AS n "
        "FROM gq_grid20 GROUP BY 1, 2 ORDER BY day, y"
    ).df


@query(
    "gq21_grid_coarsen",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE t.i < 24
    )
    SELECT CAST(epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                 + ti * INTERVAL 1 HOUR) AS BIGINT) AS t_us,
           CAST(yi // 2 AS BIGINT) AS yb, CAST(xi // 2 AS BIGINT) AS xb,
           avg(v) AS coarse, CAST(count(*) AS BIGINT) AS n
    FROM cells GROUP BY ti, yi // 2, xi // 2
    ORDER BY t_us, yb, xb
    """,
    tags=("grid", "datasource", "coarsen"),
    bench=False,
)
def gq21_grid_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``coarsen(y=2, x=2).mean()`` parity through SQL: 2x2
    spatial block means via integer-division group keys — the spatial
    downsampling step of every regridding pipeline. The time predicate
    prunes 9 of 10 chunk partitions first (gq02's path); each 2x2 block
    sums four exact quarters, so the /4 average is exact. Map-side
    partial aggregation bounds the shuffle at the coarse grid size."""
    xs = _register(spark, "gq_grid21")
    return xs.sql(
        "SELECT unix_micros(CAST(time AS TIMESTAMP_LTZ)) AS t_us, "
        "y DIV 2 AS yb, x DIV 2 AS xb, AVG(v) AS coarse, COUNT(*) AS n "
        "FROM gq_grid21 WHERE time < TIMESTAMP '2024-01-02 00:00:00' "
        "GROUP BY time, y DIV 2, x DIV 2 ORDER BY t_us, yb, xb"
    ).df


@query(
    "gq22_grid_weighted_mean",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT CAST(ti % 24 AS INT) AS h,
           sum((yi + 1) * v) / sum(yi + 1) AS wmean,
           CAST(sum(yi + 1) AS BIGINT) AS wsum
    FROM cells GROUP BY ti % 24 ORDER BY h
    """,
    tags=("grid", "datasource", "weighted"),
    bench=False,
)
def gq22_grid_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``weighted(w).mean()`` parity through SQL: an area-weighted
    hourly mean, sum(w*v)/sum(w) per group — the latitude-weighted
    reduction every global-mean climate diagnostic uses (real pipelines
    weight by cos(lat); here the weights are the integer y+1 so the
    numerator stays a sum of exact binary fractions and the one final
    division is bit-identical cross-engine — cos() is NOT correctly-
    rounded-guaranteed across engines, so a transcendental weight would
    put libm-vs-JVM ulps inside the hash). Same one-exchange partial/
    final aggregate shape as gq01."""
    xs = _register(spark, "gq_grid22")
    return xs.sql(
        "SELECT hour(time) AS h, "
        "SUM((y + 1) * v) / SUM(y + 1) AS wmean, SUM(y + 1) AS wsum "
        "FROM gq_grid22 GROUP BY hour(time) ORDER BY h"
    ).df.select(F.col("h").cast("int").alias("h"), "wmean", "wsum")


@query(
    "gq18_cf_decoded_store",
    oracle="""
    WITH t AS (SELECT unnest(range(48)) AS ti),
    s AS (SELECT unnest(range(6)) AS si),
    cells AS (
        SELECT TIMESTAMP '2000-01-01' + INTERVAL (t.ti) HOUR AS tm,
               's' || lpad(CAST(s.si AS VARCHAR), 2, '0') AS station,
               CASE WHEN (t.ti + s.si) % 7 = 0 THEN NULL
                    ELSE ((t.ti * 6 + s.si) * 3) % 200 END AS raw,
               CASE WHEN (t.ti + s.si) % 11 = 0 THEN NULL
                    ELSE ((t.ti * 6 + s.si) % 250) * 0.5 END AS rh
        FROM t, s
    )
    SELECT station,
           avg(raw * 0.25 + 100.0) AS avg_t2m,
           CAST(count(raw) AS BIGINT) AS n,
           avg(rh) AS avg_rh
    FROM cells WHERE tm >= TIMESTAMP '2000-01-01 12:00:00'
    GROUP BY station ORDER BY station
    """,
    tags=("grid", "datasource", "zarr", "cf"),
    bench=False,
)
def gq18_cf_decoded_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 CF-convention layer under the hash gate: the store is
    hand-built the way xarray writes it — an int32 time coordinate with
    CF ``units``/``calendar`` attrs, a vlen-utf8 STRING station
    coordinate, and an int16 variable packed with
    ``scale_factor``/``add_offset`` plus a ``_FillValue`` sentinel
    (ERA5's layout), plus a CF ``_Unsigned`` int8 variable whose logical
    values exceed 127 (round-7: the NetCDF-3-conversion layout — signed
    storage, unsigned semantics, -1 fill meaning 255). open_zarr must
    decode all four (timestamps, strings, lazily-unpacked floats with
    fills -> NaN -> SQL NULL, sign-reinterpreted unsigned packing) for
    the query to hash-match an oracle that regenerates the values
    arithmetically. scale_factor 0.25 and offset 100.0 keep every
    decoded value an exact binary fraction, so AVG's sum is exact in
    any accumulation order and the final division is a single IEEE op —
    bit-identical cross-engine with no rounding. The time predicate
    prunes the first chunk via the DECODED timestamp bounds."""
    import json
    import os
    import zlib

    xs = XarraySession(spark)
    path = os.path.join(xs._tmpdir, "cf.zarr")
    for name in ("time", "station", "t2m"):
        os.makedirs(os.path.join(path, name))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)

    def _meta(name, shape, chunk, dtype, filters=None, attrs=None):
        with open(os.path.join(path, name, ".zarray"), "w") as f:
            json.dump(
                {"zarr_format": 2, "shape": shape, "chunks": chunk,
                 "dtype": dtype, "compressor": {"id": "zlib", "level": 1},
                 "fill_value": 0, "order": "C", "filters": filters},
                f,
            )
        with open(os.path.join(path, name, ".zattrs"), "w") as f:
            json.dump(attrs or {}, f)

    ti = np.arange(48, dtype=np.int64)
    si = np.arange(6, dtype=np.int64)
    _meta("time", [48], [12], "<i4",
          attrs={"_ARRAY_DIMENSIONS": ["time"],
                 "units": "hours since 2000-01-01", "calendar": "proleptic_gregorian"})
    for ci in range(4):
        with open(os.path.join(path, "time", str(ci)), "wb") as f:
            f.write(zlib.compress(ti[ci * 12 : (ci + 1) * 12].astype("<i4").tobytes(), 1))

    stations = [f"s{i:02d}" for i in range(6)]
    _meta("station", [6], [6], "|O", filters=[{"id": "vlen-utf8"}],
          attrs={"_ARRAY_DIMENSIONS": ["station"]})
    body = len(stations).to_bytes(4, "little")
    for s in stations:
        b = s.encode()
        body += len(b).to_bytes(4, "little") + b
    with open(os.path.join(path, "station", "0"), "wb") as f:
        f.write(zlib.compress(body, 1))

    raw = ((ti[:, None] * 6 + si[None, :]) * 3) % 200
    raw = np.where((ti[:, None] + si[None, :]) % 7 == 0, -32768, raw).astype("<i2")
    _meta("t2m", [48, 6], [12, 6], "<i2",
          attrs={"_ARRAY_DIMENSIONS": ["time", "station"],
                 "scale_factor": 0.25, "add_offset": 100.0, "_FillValue": -32768})
    for ci in range(4):
        with open(os.path.join(path, "t2m", f"{ci}.0"), "wb") as f:
            f.write(zlib.compress(raw[ci * 12 : (ci + 1) * 12].tobytes(), 1))

    # CF _Unsigned variable (NetCDF-3 conversion layout): logical uint8
    # values 0..249 stored in a SIGNED int8 array with _Unsigned="true";
    # the -1 fill means 255 in the unsigned domain. Values >= 128 decode
    # wrong unless the reader reinterprets before scaling — that is what
    # the hash proves.
    os.makedirs(os.path.join(path, "rh"))
    rh_u = ((ti[:, None] * 6 + si[None, :]) % 250).astype(np.uint8)
    rh_u = np.where((ti[:, None] + si[None, :]) % 11 == 0, np.uint8(255), rh_u)
    rh_raw = rh_u.view(np.int8)  # store signed, as a converter would
    _meta("rh", [48, 6], [12, 6], "|i1",
          attrs={"_ARRAY_DIMENSIONS": ["time", "station"],
                 "_Unsigned": "true", "scale_factor": 0.5,
                 "add_offset": 0.0, "_FillValue": -1})
    for ci in range(4):
        with open(os.path.join(path, "rh", f"{ci}.0"), "wb") as f:
            f.write(zlib.compress(rh_raw[ci * 12 : (ci + 1) * 12].tobytes(), 1))

    xs.from_dataset(
        "gq_grid18", Dataset.open_store(path), chunks={"time": 12}, store=path
    )
    return xs.sql(
        "SELECT station, AVG(t2m) AS avg_t2m, COUNT(t2m) AS n, "
        "AVG(rh) AS avg_rh FROM gq_grid18 "
        "WHERE time >= TIMESTAMP '2000-01-01 12:00:00' "
        "GROUP BY station ORDER BY station"
    ).df


@query(
    "gq17_blosclz_bitshuffle_store",
    oracle="""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, t.i * 0.5 + y.i * 0.25 AS v
        FROM (SELECT unnest(range(32)) AS i) t,
             (SELECT unnest(range(40)) AS i) y
    )
    SELECT CAST(ti % 4 AS INT) AS tb,
           sum(v) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM cells WHERE ti >= 8
    GROUP BY ti % 4
    ORDER BY tb
    """,
    tags=("grid", "datasource", "zarr", "codecs"),
    bench=False,
)
def gq17_blosclz_bitshuffle_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """blosclz + bitshuffle decode under the hash gate: the store is
    written with c-blosc's DEFAULT inner codec (blosclz, the one cname the
    reference reads via numcodecs that needed a from-scratch pure-Python
    decoder — reference xarray_sql/reader.py:192-337) and bit-shuffle
    (header flag 0x4, the bitshuffle bit-plane transpose). Chunks are
    8x40 = 2560 bytes, so blosclz blocks take c-blosc's SPLIT path
    (byte-plane streams) on top of the bit transpose — the exact layout a
    real ``numcodecs.Blosc(cname='blosclz', shuffle=Blosc.BITSHUFFLE)``
    store has. Values are exact binary fractions; the oracle regenerates
    them without touching the store, so a hash match proves the whole
    decode chain (blosclz streams -> bit-unshuffle -> typed cells) is
    bit-exact. t >= 8 prunes chunk 0 via coordinate bounds, same as gq15.
    Spec-vector goldens for both codecs live in tests/test_zarr_codecs.py."""
    import os

    from xarray_sql_spark.zarr_store import write_zarr

    t = np.arange(32, dtype=np.int64)
    y = np.arange(40, dtype=np.int64)
    v = t[:, None] * 0.5 + y[None, :] * 0.25
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    xs = XarraySession(spark)
    path = os.path.join(xs._tmpdir, "blz.zarr")
    write_zarr(
        ds,
        path,
        chunks={"t": 8},
        compressor={"id": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 2},
    )
    xs.from_dataset(
        "gq_grid17", Dataset.open_store(path), chunks={"t": 8}, store=path
    )
    return xs.sql(
        "SELECT CAST(t % 4 AS INT) AS tb, SUM(v) AS total, COUNT(*) AS n "
        "FROM gq_grid17 WHERE t >= 8 GROUP BY t % 4 ORDER BY tb"
    ).df


@query(
    "gq23_longtail_codec_store",
    oracle="""
    WITH x AS (SELECT unnest(range(24)) AS i)
    SELECT CAST(sum(i * 3) AS BIGINT) AS total_a,
           sum(i * 0.5) AS total_b,
           CAST(sum(i * 7) AS BIGINT) AS total_c,
           CAST(sum(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag
    FROM x WHERE i >= 8
    """,
    tags=("grid", "datasource", "zarr", "codecs"),
    bench=False,
)
def gq23_longtail_codec_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 numcodecs long tail under the hash gate: one store,
    four variables, four encodings a foreign tool could have written —
    ``a`` bz2-compressed, ``b`` lzma(xz)-compressed, ``c`` behind the
    numcodecs Shuffle byte-transpose filter (then zlib), and ``flag`` a
    PackBits bool array (pad-count byte + big-endian bit packing). The
    chunk bytes are assembled with stdlib/numpy only (independent of the
    engine's encoders); the oracle regenerates the cell values
    arithmetically, so a hash match proves every decode path. x >= 8
    prunes chunk 0 via coordinate bounds like gq15/gq17."""
    import bz2
    import json
    import lzma
    import os
    import zlib

    xs = XarraySession(spark)
    path = os.path.join(xs._tmpdir, "lt.zarr")
    for name in ("x", "a", "b", "c", "flag"):
        os.makedirs(os.path.join(path, name))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)

    def _meta(name, shape, chunk, dtype, compressor, filters=None):
        with open(os.path.join(path, name, ".zarray"), "w") as f:
            json.dump(
                {"zarr_format": 2, "shape": shape, "chunks": chunk,
                 "dtype": dtype, "compressor": compressor,
                 "fill_value": 0, "order": "C", "filters": filters},
                f,
            )
        with open(os.path.join(path, name, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": ["x"]}, f)

    xi = np.arange(24, dtype=np.int64)
    _meta("x", [24], [24], "<i8", None)
    with open(os.path.join(path, "x", "0"), "wb") as f:
        f.write(xi.astype("<i8").tobytes())

    def _chunks(vals, n=8):
        for ci in range(3):
            yield ci, vals[ci * n : (ci + 1) * n]

    a = (xi * 3).astype("<i4")
    _meta("a", [24], [8], "<i4", {"id": "bz2", "level": 5})
    for ci, block in _chunks(a):
        with open(os.path.join(path, "a", str(ci)), "wb") as f:
            f.write(bz2.compress(block.tobytes()))

    b = (xi * 0.5).astype("<f8")
    _meta("b", [24], [8], "<f8", {"id": "lzma"})
    for ci, block in _chunks(b):
        with open(os.path.join(path, "b", str(ci)), "wb") as f:
            f.write(lzma.compress(block.tobytes()))

    c = (xi * 7).astype("<i4")
    _meta("c", [24], [8], "<i4", {"id": "zlib", "level": 1},
          filters=[{"id": "shuffle", "elementsize": 4}])
    for ci, block in _chunks(c):
        raw = block.tobytes()
        planes = bytes(raw[e * 4 + j] for j in range(4) for e in range(8))
        with open(os.path.join(path, "c", str(ci)), "wb") as f:
            f.write(zlib.compress(planes, 1))

    flag = (xi % 3 == 0)
    _meta("flag", [24], [8], "|b1", None, filters=[{"id": "packbits"}])
    for ci, block in _chunks(flag):
        with open(os.path.join(path, "flag", str(ci)), "wb") as f:
            f.write(bytes([0]) + np.packbits(block).tobytes())

    xs.from_dataset(
        "gq_grid23", Dataset.open_store(path), chunks={"x": 8}, store=path
    )
    return xs.sql(
        "SELECT CAST(SUM(a) AS BIGINT) AS total_a, SUM(b) AS total_b, "
        "CAST(SUM(c) AS BIGINT) AS total_c, "
        "CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flag "
        "FROM gq_grid23 WHERE x >= 8"
    ).df


@query(
    "gq24_region_write_roundtrip",
    oracle="""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi,
               CASE WHEN t.i >= 8 AND t.i < 24
                    THEN 100.0 - (t.i * 0.5 + y.i * 0.25)
                    ELSE t.i * 0.5 + y.i * 0.25 END AS v
        FROM (SELECT unnest(range(32)) AS i) t,
             (SELECT unnest(range(6)) AS i) y
    )
    SELECT CAST(ti % 4 AS INT) AS tb,
           sum(v) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM cells GROUP BY ti % 4 ORDER BY tb
    """,
    tags=("grid", "datasource", "zarr", "sink", "region"),
    bench=False,
)
def gq24_region_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region overwrite under the hash gate (round 7): write a store,
    SQL-transform the middle chunk-aligned slab (t in [8, 24) = chunks 1
    and 2 of 4) through the DataSource, OVERWRITE just that region in
    place with ``to_zarr_region`` (executor-parallel, metadata untouched),
    re-open, and aggregate over the WHOLE axis — the hash matches only if
    the overwritten chunks carry the transformed values bit-for-bit AND
    the untouched chunks survived byte-identical. Values are exact binary
    fractions throughout, so no rounding hides a partial failure."""
    import os

    from xarray_sql_spark.zarr_store import write_zarr

    t = np.arange(32, dtype=np.int64)
    y = np.arange(6, dtype=np.int64)
    v = t[:, None] * 0.5 + y[None, :] * 0.25
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    xs = XarraySession(spark)
    path = os.path.join(xs._tmpdir, "region.zarr")
    write_zarr(ds, path, chunks={"t": 8})
    xs.from_dataset("gq_grid24", Dataset.open_store(path), chunks={"t": 8}, store=path)
    patch = xs.sql(
        "SELECT t, y, 100.0 - v AS v FROM gq_grid24 WHERE t >= 8 AND t < 24"
    )
    patch.to_zarr_region(path, {"t": (8, 24)})

    xs2 = XarraySession(spark)
    xs2.from_dataset(
        "gq_grid24_back", Dataset.open_store(path), chunks={"t": 8}, store=path
    )
    return xs2.sql(
        "SELECT CAST(t % 4 AS INT) AS tb, SUM(v) AS total, COUNT(*) AS n "
        "FROM gq_grid24_back GROUP BY t % 4 ORDER BY tb"
    ).df


@query(
    "gq25_grid_interp",
    oracle=f"""
    WITH cells AS (
        SELECT y.i AS yi, x.i AS xi,
               5 * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    tq AS (SELECT unnest([0.5, 2.25, 7.75, 14.5]) AS yq),
    nb AS (
        SELECT yq, CAST(floor(yq) AS BIGINT) AS yn, 1.0 - (yq - floor(yq)) AS wgt
        FROM tq
        UNION ALL
        SELECT yq, CAST(floor(yq) AS BIGINT) + 1, yq - floor(yq) FROM tq
    )
    SELECT nb.yq, CAST(c.xi AS BIGINT) AS x, sum(nb.wgt * c.v) AS vi
    FROM nb JOIN cells c ON c.yi = nb.yn
    GROUP BY nb.yq, c.xi ORDER BY yq, x
    """,
    tags=("grid", "datasource", "interp"),
    bench=False,
)
def gq25_grid_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``ds.interp(y=[...])`` parity through SQL: linear
    interpolation of a pruned time slice onto off-grid fractional y
    coordinates. The 4 targets expand to an 8-row neighbor/weight table
    (floor neighbor gets 1-frac, ceil neighbor gets frac) that BROADCASTS
    into an equi-join on the integer y key — interpolation as the gq08
    weighted-regrid join shape, never a theta join. Targets and the grid
    values are binary fractions, so every wgt*v product and two-term sum
    is exact and the hash is engine-independent.

    Scale: the time predicate prunes 9 of 10 chunk partitions at the
    source; the neighbor table is O(targets), broadcast; one partial-
    aggregating exchange on (yq, x) — the same plan at any grid size."""
    xs = _register(spark, "gq_grid25")
    slice_df = xs.sql(
        "SELECT y, x, v FROM gq_grid25 "
        "WHERE time = TIMESTAMP '2024-01-01 05:00:00'"
    ).df
    targets = spark.createDataFrame([(0.5,), (2.25,), (7.75,), (14.5,)], "yq double")
    lo = targets.select(
        "yq",
        F.floor("yq").cast("long").alias("yn"),
        (F.lit(1.0) - (F.col("yq") - F.floor("yq"))).alias("wgt"),
    )
    hi = targets.select(
        "yq",
        (F.floor("yq") + 1).cast("long").alias("yn"),
        (F.col("yq") - F.floor("yq")).alias("wgt"),
    )
    nb = lo.union(hi)
    return (
        slice_df.join(F.broadcast(nb), slice_df.y == nb.yn)
        .groupBy("yq", "x")
        .agg(F.sum(F.col("wgt") * F.col("v")).alias("vi"))
        .orderBy("yq", "x")
    )


@query(
    "gq26_grid_ffill",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               CASE WHEN (t.i + y.i + x.i) % 5 = 0 THEN NULL
                    ELSE (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 END AS vg
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE y.i < 4 AND x.i < 4
    )
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           last_value(vg IGNORE NULLS) OVER (
               PARTITION BY yi, xi ORDER BY ti
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM cells ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "ffill", "window"),
    bench=False,
)
def gq26_grid_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``ffill('time')`` parity through SQL: deterministic gaps are
    punched into the pivoted grid (every 5th diagonal cell), then forward-
    filled per (y, x) series with last-non-null-value over an unbounded
    preceding window — Spark's ``last(ignorenulls)`` vs DuckDB's
    ``last_value(IGNORE NULLS)``. Leading gaps stay NULL on both engines
    (xarray ffill semantics: nothing to propagate yet).

    Scale: ONE exchange on the (y, x) series key, then each time series
    fills independently inside its partition — no cross-series traffic at
    any grid size."""
    xs = _register(spark, "gq_grid26")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, "
        "CASE WHEN ((dayofyear(time) - 1) * 24 + hour(time) + y + x) % 5 = 0 "
        "THEN NULL ELSE v END AS vg "
        "FROM gq_grid26 WHERE y < 4 AND x < 4"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti").rowsBetween(W.unboundedPreceding, 0)
    return (
        df.withColumn("filled", F.last("vg", ignorenulls=True).over(w))
        .select(F.col("ti").cast("long").alias("ti"), "y", "x", "filled")
        .orderBy("ti", "y", "x")
    )


@query(
    "gq27_grid_differentiate",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE y.i < 2 AND x.i < 2
    ),
    nbrs AS (
        SELECT ti, yi, xi, v,
               lag(v)  OVER (PARTITION BY yi, xi ORDER BY ti) AS pv,
               lead(v) OVER (PARTITION BY yi, xi ORDER BY ti) AS nv
        FROM cells
    )
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           CASE WHEN pv IS NULL THEN nv - v
                WHEN nv IS NULL THEN v - pv
                ELSE (nv - pv) / 2 END AS dvdt
    FROM nbrs ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "differentiate", "window"),
    bench=False,
)
def gq27_grid_differentiate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``differentiate('time')`` parity through SQL — np.gradient
    semantics: centered difference (v[i+1] - v[i-1]) / 2 in the interior,
    one-sided at the series edges, per (y, x) cell, in per-hour units
    (the axis step is 1 h). Every difference is a subtraction of exact
    binary fractions and the /2 is a power of two, so the derivative is
    bit-identical cross-engine.

    Scale: same one-exchange series shape as gq19 — partition by cell,
    sort by time inside the partition, lead/lag locally."""
    xs = _register(spark, "gq_grid27")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid27 WHERE y < 2 AND x < 2"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti")
    pv, nv = F.lag("v").over(w), F.lead("v").over(w)
    dvdt = (
        F.when(pv.isNull(), nv - F.col("v"))
        .when(nv.isNull(), F.col("v") - pv)
        .otherwise((nv - pv) / 2)
    )
    return (
        df.select(F.col("ti").cast("long").alias("ti"), "y", "x", dvdt.alias("dvdt"))
        .orderBy("ti", "y", "x")
    )


@query(
    "gq28_grid_argmax",
    oracle=f"""
    WITH cells AS (
        SELECT TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (t.i) HOUR AS tm,
               y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    ),
    rk AS (
        SELECT yi, xi, tm, v,
               row_number() OVER (PARTITION BY yi, xi
                                  ORDER BY v DESC, tm ASC) AS rn
        FROM cells
    )
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           CAST(epoch_us(tm) AS BIGINT) AS t_us, v AS vmax
    FROM rk WHERE rn = 1 ORDER BY y, x
    """,
    tags=("grid", "datasource", "argmax", "window"),
    bench=False,
)
def gq28_grid_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``v.argmax('time')`` / ``idxmax`` parity through SQL: the
    earliest timestamp attaining the per-cell maximum. The fixture's
    diurnal cycle makes the max a 10-way tie (hour 23 of each day), so
    the query also proves the deterministic earliest-time tie-break on
    both engines — row_number ordered by (v DESC, time ASC).

    Scale: one exchange on the cell key; at a real grid the same shape
    runs as a partial max_by per partition. The full 61,440-row scan
    reduces to 256 output rows."""
    xs = _register(spark, "gq_grid28")
    df = xs.sql("SELECT time, y, x, v FROM gq_grid28").df
    w = W.partitionBy("y", "x").orderBy(F.col("v").desc(), F.col("time").asc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "y", "x",
            F.unix_micros(F.col("time").cast("timestamp_ltz")).alias("t_us"),
            F.col("v").alias("vmax"),
        )
        .orderBy("y", "x")
    )


@query(
    "gq29_grid_value_bins",
    oracle=f"""
    WITH cells AS (
        SELECT (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )
    SELECT CAST(floor(v / 4) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           sum(v) AS total, min(v) AS vmin, max(v) AS vmax
    FROM cells GROUP BY floor(v / 4) ORDER BY bin
    """,
    tags=("grid", "datasource", "histogram", "groupby-bins"),
    bench=False,
)
def gq29_grid_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``groupby_bins('v', bins)`` parity through SQL: a value-space
    histogram — bin the data variable into width-4 buckets, count / sum /
    min / max per bucket. The /4 bin edge is a power of two so the bin
    assignment is exact on both engines; sums of binary fractions are
    exact.

    Scale: the canonical map-side-combining aggregate — the shuffle
    carries ~9 bin rows per partition regardless of grid size."""
    xs = _register(spark, "gq_grid29")
    return xs.sql(
        "SELECT CAST(FLOOR(v / 4) AS BIGINT) AS bin, COUNT(*) AS n, "
        "SUM(v) AS total, MIN(v) AS vmin, MAX(v) AS vmax "
        "FROM gq_grid29 GROUP BY FLOOR(v / 4) ORDER BY bin"
    ).df


@query(
    "gq30_grid_cumsum",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE y.i < 2 AND x.i < 2
    )
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           sum(v) OVER (PARTITION BY yi, xi ORDER BY ti
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM cells ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "cumsum", "window"),
    bench=False,
)
def gq30_grid_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``cumsum('time')`` parity through SQL: the running sum per
    (y, x) series via an unbounded-preceding window — the accumulation
    verb behind degree-day and precipitation-total diagnostics. Every
    prefix sum is a sum of exact binary fractions in the SAME order on
    both engines (window frames are sequential by definition), so the
    hash is exact with no rounding.

    Scale: one exchange on the cell key, sequential accumulation inside
    each series partition — gq19's shape with a wider frame."""
    xs = _register(spark, "gq_grid30")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid30 WHERE y < 2 AND x < 2"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti").rowsBetween(W.unboundedPreceding, 0)
    return (
        df.withColumn("cum", F.sum("v").over(w))
        .select(F.col("ti").cast("long").alias("ti"), "y", "x", "cum")
        .orderBy("ti", "y", "x")
    )


# --- second fixture: non-periodic exact values ------------------------------
# The primary fixture's v is periodic in time (ti % 24), which makes
# time-shift diagnostics (diff, trend) degenerate. This variant uses
# v = ((ti*ti) % 32) * 0.25 + y * 0.5 + x * 0.25 — still exact binary
# quarters (bit-identical across numpy / Spark / DuckDB integer-mod
# arithmetic), but aperiodic enough that lags, ranks, slopes and
# integrals are all non-trivial.
_SQ_EXPR_DUCK = "((t.i * t.i) % 32) * 0.25 + y.i * 0.5 + x.i * 0.25"


def _fixture_dataset_sq() -> Dataset:
    t = np.arange("2024-01-01T00", "2024-01-11T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    ti = np.arange(N_T, dtype=np.int64)
    v = (
        ((ti * ti) % 32)[:, None, None] * 0.25
        + y[None, :, None] * 0.5
        + x[None, None, :] * 0.25
    )
    return Dataset({"v": Variable(("time", "y", "x"), v)}, {"time": t, "y": y, "x": x})


def _register_sq(spark: SparkSession, view: str) -> XarraySession:
    xs = XarraySession(spark)
    xs.from_dataset(view, _fixture_dataset_sq(), chunks={"time": 24})
    return xs


def _sq_cells(where: str = "") -> str:
    return f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               {_SQ_EXPR_DUCK} AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        {where}
    )"""


@query(
    "gq31_grid_shift_diff",
    oracle=_sq_cells("WHERE y.i < 2 AND x.i < 2")
    + """
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           v - lag(v) OVER (PARTITION BY yi, xi ORDER BY ti) AS d
    FROM cells QUALIFY d IS NOT NULL ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "shift", "diff", "window"),
    bench=False,
)
def gq31_grid_shift_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``shift('time')`` / ``diff('time')`` parity: the first
    discrete difference along time per (y, x) series via a lag window —
    the verb behind rate-of-change and tendency fields. The aperiodic
    fixture keeps every difference an exact quarter, so the hash is
    exact.

    Scale: one exchange on the series key, sequential lag inside each
    partition — no self-join (the naive spelling), no shuffle of the
    full grid beyond the window's own."""
    xs = _register_sq(spark, "gq_grid31")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid31 WHERE y < 2 AND x < 2"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti")
    return (
        df.withColumn("d", F.col("v") - F.lag("v").over(w))
        .filter(F.col("d").isNotNull())
        .select(F.col("ti").cast("long").alias("ti"), "y", "x", "d")
        .orderBy("ti", "y", "x")
    )


@query(
    "gq32_grid_rank",
    oracle=_sq_cells("WHERE y.i < 2 AND x.i < 2")
    + """
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           CAST(rank() OVER w AS BIGINT) AS rk,
           CAST(dense_rank() OVER w AS BIGINT) AS drk
    FROM cells WINDOW w AS (PARTITION BY yi, xi ORDER BY v)
    ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "rank", "window"),
    bench=False,
)
def gq32_grid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``rank('time')`` parity: the within-series rank of every
    value (rank + dense_rank, both tie-stable across engines because
    ties share a rank by definition). Integer outputs — exact.

    Scale: one exchange on the series key; ranking is a sort inside each
    series partition, never global."""
    xs = _register_sq(spark, "gq_grid32")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid32 WHERE y < 2 AND x < 2"
    ).df
    w = W.partitionBy("y", "x").orderBy("v")
    return df.select(
        F.col("ti").cast("long").alias("ti"),
        "y",
        "x",
        F.rank().over(w).cast("bigint").alias("rk"),
        F.dense_rank().over(w).cast("bigint").alias("drk"),
    ).orderBy("ti", "y", "x")


@query(
    "gq33_grid_trend",
    oracle=_sq_cells()
    + """
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           (count(*) * sum(ti * v) - sum(ti) * sum(v))
               / (count(*) * sum(ti * ti) - sum(ti) * sum(ti)) AS slope,
           (sum(v) - ((count(*) * sum(ti * v) - sum(ti) * sum(v))
               / (count(*) * sum(ti * ti) - sum(ti) * sum(ti))) * sum(ti))
               / count(*) AS intercept
    FROM cells GROUP BY yi, xi ORDER BY y, x
    """,
    tags=("grid", "datasource", "polyfit", "trend"),
    bench=False,
)
def gq33_grid_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``polyfit(dim='time', deg=1)`` parity: the per-cell OLS
    trend, computed from raw moment sums (n, Σt, Σv, Σtv, Σt²) with the
    closed normal-equation form spelled IDENTICALLY in both engines.
    Every sum is exact (integer ti, quarter-grid v, magnitudes far below
    2^53), so the final divisions see bit-identical operands and produce
    bit-identical IEEE doubles — the hash needs no rounding.

    Scale: a single map-side-combinable aggregate over the series key —
    the moment-sums formulation is exactly how a 100-TB trend field is
    computed (one pass, five accumulators), not a per-cell lstsq."""
    xs = _register_sq(spark, "gq_grid33")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid33"
    ).df
    m = df.groupBy("y", "x").agg(
        F.count("*").alias("n"),
        F.sum("ti").alias("st"),
        F.sum("v").alias("sv"),
        F.sum(F.col("ti") * F.col("v")).alias("stv"),
        F.sum(F.col("ti") * F.col("ti")).alias("stt"),
    )
    slope = (F.col("n") * F.col("stv") - F.col("st") * F.col("sv")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    return m.select(
        "y",
        "x",
        slope.alias("slope"),
        ((F.col("sv") - slope * F.col("st")) / F.col("n")).alias("intercept"),
    ).orderBy("y", "x")


@query(
    "gq34_grid_integrate",
    oracle=_sq_cells()
    + """
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           sum(v) - (min(CASE WHEN ti = 0 THEN v END)
                     + min(CASE WHEN ti = {last} THEN v END)) / 2 AS integral
    FROM cells GROUP BY yi, xi ORDER BY y, x
    """.format(last=N_T - 1),
    tags=("grid", "datasource", "integrate"),
    bench=False,
)
def gq34_grid_integrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``integrate('time')`` parity on a uniform unit-spaced axis:
    the trapezoidal rule collapses to Σv − (v_first + v_last)/2, computed
    per cell. All terms are exact binary quarters, so the subtraction
    and halving are bit-exact on both engines.

    Scale: one aggregate over the series key — the endpoint terms ride
    the same pass as conditional MINs, so there is no second scan and no
    window."""
    xs = _register_sq(spark, "gq_grid34")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid34"
    ).df
    first = F.min(F.when(F.col("ti") == 0, F.col("v")))
    last = F.min(F.when(F.col("ti") == N_T - 1, F.col("v")))
    return (
        df.groupBy("y", "x")
        .agg((F.sum("v") - (first + last) / 2).alias("integral"))
        .orderBy("y", "x")
    )


# --- two-variable fixture for corr/cov parity --------------------------------
_UV_U_DUCK = "((t.i * t.i) % 32) * 0.25 + y.i * 0.5"
_UV_V_DUCK = "((t.i * (t.i + 1)) % 32) * 0.25 + x.i * 0.25"


def _fixture_dataset_uv() -> Dataset:
    t = np.arange("2024-01-01T00", "2024-01-11T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    ti = np.arange(N_T, dtype=np.int64)
    u = ((ti * ti) % 32)[:, None, None] * 0.25 + y[None, :, None] * 0.5 + np.zeros(
        (1, 1, N_X)
    )
    v = ((ti * (ti + 1)) % 32)[:, None, None] * 0.25 + np.zeros((1, N_Y, 1)) + x[
        None, None, :
    ] * 0.25
    return Dataset(
        {"u": Variable(("time", "y", "x"), u), "v": Variable(("time", "y", "x"), v)},
        {"time": t, "y": y, "x": x},
    )


def _uv_cells() -> str:
    return f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               {_UV_U_DUCK} AS u, {_UV_V_DUCK} AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
    )"""


@query(
    "gq35_grid_corr_cov",
    oracle=_uv_cells()
    + """
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           (count(*) * sum(u * v) - sum(u) * sum(v))
             / sqrt((count(*) * sum(u * u) - sum(u) * sum(u))
                    * (count(*) * sum(v * v) - sum(v) * sum(v))) AS corr_uv,
           (sum(u * v) - sum(u) * sum(v) / count(*)) / (count(*) - 1) AS cov_uv
    FROM cells GROUP BY yi, xi ORDER BY y, x
    """,
    tags=("grid", "datasource", "corr", "cov"),
    bench=False,
)
def gq35_grid_corr_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xr.corr(u, v, dim='time')`` / ``xr.cov`` parity: per-cell Pearson
    correlation and sample covariance between two variables of the same
    dataset, computed from raw moment sums with the IDENTICAL closed-form
    expression on both engines. Every sum is exact (quarter-grid values,
    far below 2^53), so sqrt/divide see bit-identical operands — no
    rounding needed. Built-in ``corr``/``covar_samp`` aggregates are NOT
    used on either side precisely because their internal update orders
    differ between engines; the moment-sum form is also the one-pass
    shape you'd run at 100 TB.

    Scale: one map-side-combinable aggregate (six accumulators) over the
    series key; the two-variable pivot rides the same DataSource scan —
    variables sharing dims are columns of one row stream, not a join."""
    xs = XarraySession(spark)
    xs.from_dataset("gq_grid35", _fixture_dataset_uv(), chunks={"time": 24})
    df = xs.sql("SELECT y, x, u, v FROM gq_grid35").df
    n, su, sv = F.count("*"), F.sum("u"), F.sum("v")
    suv = F.sum(F.col("u") * F.col("v"))
    suu = F.sum(F.col("u") * F.col("u"))
    svv = F.sum(F.col("v") * F.col("v"))
    m = df.groupBy("y", "x").agg(
        n.alias("n"), su.alias("su"), sv.alias("sv"),
        suv.alias("suv"), suu.alias("suu"), svv.alias("svv"),
    )
    corr = (F.col("n") * F.col("suv") - F.col("su") * F.col("sv")) / F.sqrt(
        (F.col("n") * F.col("suu") - F.col("su") * F.col("su"))
        * (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv"))
    )
    cov = (F.col("suv") - F.col("su") * F.col("sv") / F.col("n")) / (F.col("n") - 1)
    return m.select("y", "x", corr.alias("corr_uv"), cov.alias("cov_uv")).orderBy(
        "y", "x"
    )


@query(
    "gq36_grid_quantiles",
    oracle=_sq_cells()
    + """
    SELECT CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           quantile_cont(CAST(v AS DOUBLE), 0.25) AS p25,
           quantile_cont(CAST(v AS DOUBLE), 0.5) AS p50,
           quantile_cont(CAST(v AS DOUBLE), 0.75) AS p75
    FROM cells GROUP BY yi, xi ORDER BY y, x
    """,
    tags=("grid", "datasource", "quantile"),
    bench=False,
)
def gq36_grid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``quantile(dim='time')`` parity: per-cell p25/p50/p75 via
    exact linear-interpolated percentiles (both engines implement the
    same type-7 definition: position (n-1)p, linear between order
    statistics). On the quarter-grid fixture with n=240 the interpolation
    fractions are exact binary (0.75/0.5/0.25), so results land on the
    eighths grid and hash exactly.

    Scale: Spark's ``percentile`` is a sort-based exact aggregate —
    correct parity target for a 240-sample series; a 100-TB pipeline
    with huge groups swaps in approx_percentile (same plan shape,
    sketch-based) which is deliberately NOT the parity op here."""
    xs = _register_sq(spark, "gq_grid36")
    df = xs.sql("SELECT y, x, v FROM gq_grid36").df
    q = F.expr("percentile(v, array(0.25D, 0.5D, 0.75D))")
    return (
        df.groupBy("y", "x")
        .agg(q.alias("qs"))
        .select(
            "y", "x",
            F.col("qs")[0].alias("p25"),
            F.col("qs")[1].alias("p50"),
            F.col("qs")[2].alias("p75"),
        )
        .orderBy("y", "x")
    )


@query(
    "gq37_grid_rolling_std",
    oracle=_sq_cells("WHERE y.i < 2 AND x.i < 2")
    + """
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           CAST(n AS BIGINT) AS n,
           sqrt((sv2 - sv * sv / n) / (n - 1)) AS roll_std
    FROM (
        SELECT ti, yi, xi,
               count(*) OVER w AS n,
               sum(v) OVER w AS sv,
               sum(v * v) OVER w AS sv2
        FROM cells
        WINDOW w AS (PARTITION BY yi, xi ORDER BY ti
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    WHERE n >= 2 ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "rolling", "std", "window"),
    bench=False,
)
def gq37_grid_rolling_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``rolling(time=24).std()`` parity: the 24-step rolling
    sample standard deviation per series, computed from windowed moment
    sums (n, Σv, Σv²) with the IDENTICAL closed form on both engines —
    the built-in stddev window aggregate is deliberately avoided (its
    internal update order differs between engines); the sums are exact
    on the quarter grid, so sqrt/divide see bit-identical operands and
    the hash needs no rounding. gq19's rolling-mean shape, one moment
    higher.

    Scale: one exchange on the series key; the frame scan is sequential
    within each series partition."""
    xs = _register_sq(spark, "gq_grid37")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid37 WHERE y < 2 AND x < 2"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti").rowsBetween(-23, 0)
    m = df.select(
        F.col("ti").cast("long").alias("ti"),
        "y",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("v").over(w).alias("sv"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("sv2"),
    ).filter(F.col("n") >= 2)
    return m.select(
        "ti",
        "y",
        "x",
        "n",
        F.sqrt(
            (F.col("sv2") - F.col("sv") * F.col("sv") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("roll_std"),
    ).orderBy("ti", "y", "x")


@query(
    "gq38_grid_upsample",
    oracle=_sq_cells("WHERE y.i < 2 AND x.i < 2")
    + """
    , pts AS (
        SELECT ti, yi, xi, v,
               lead(v) OVER (PARTITION BY yi, xi ORDER BY ti) AS v_next
        FROM cells
    )
    SELECT CAST(ti2 AS BIGINT) AS ti2,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x, v2
    FROM (
        SELECT ti * 2 AS ti2, yi, xi, v AS v2 FROM pts
        UNION ALL
        SELECT ti * 2 + 1, yi, xi, (v + v_next) / 2 FROM pts
        WHERE v_next IS NOT NULL
    ) ORDER BY ti2, y, x
    """,
    tags=("grid", "datasource", "resample", "upsample", "interp"),
    bench=False,
)
def gq38_grid_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray ``resample(time='30min').interpolate('linear')`` parity:
    upsample the hourly series to half-hourly by inserting linear
    midpoints between consecutive samples (on-the-hour rows pass
    through; the trailing half-hour has no right neighbor and is
    dropped, matching xarray's interpolation domain). Midpoints are
    (v + v_next)/2 on the exact quarter grid — exact eighths, no
    rounding. gq25 interpolates onto arbitrary OFF-grid targets; this
    is the regular-upsampling verb.

    Scale: one exchange on the series key for the lead window, then a
    union of two projections — output is 2x input rows, no join against
    a generated spine (the spine is implicit in the lag structure)."""
    xs = _register_sq(spark, "gq_grid38")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid38 WHERE y < 2 AND x < 2"
    ).df
    w = W.partitionBy("y", "x").orderBy("ti")
    pts = df.withColumn("v_next", F.lead("v").over(w))
    on_hour = pts.select(
        (F.col("ti") * 2).cast("long").alias("ti2"), "y", "x",
        F.col("v").alias("v2"),
    )
    mid = pts.filter(F.col("v_next").isNotNull()).select(
        (F.col("ti") * 2 + 1).cast("long").alias("ti2"), "y", "x",
        ((F.col("v") + F.col("v_next")) / 2).alias("v2"),
    )
    return on_hour.unionAll(mid).orderBy("ti2", "y", "x")


@query(
    "gq39_grid_where_clip_fill",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               (t.i % 24) * 1.0 + y.i * 0.5 + x.i * 0.25 AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE y.i < 2 AND x.i < 2
    )
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           CASE WHEN v >= 8 THEN v END AS masked,
           least(greatest(v, 4.0), 20.0) AS clipped,
           coalesce(CASE WHEN v >= 8 THEN v END, 0.0) AS filled
    FROM cells ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "where", "clip", "fillna"),
    bench=False,
)
def gq39_grid_where_clip_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xarray conditional-selection verb parity through SQL, three verbs
    in one pass: ``v.where(v >= 8)`` (keep-else-NaN masking -> CASE WHEN
    with the NaN<->NULL bridge gq04 pinned), ``v.clip(min=4, max=20)``
    (LEAST/GREATEST saturation), and ``v.where(...).fillna(0.0)``
    (COALESCE over the masked value). All three are pure projections on
    the exact-quarters fixture — bit-exact, no rounding.

    Scale: zero shuffles — element-wise verbs stay inside whole-stage
    codegen on the scan, exactly how a 100-TB mask/clip/fill pipeline
    should run (and the predicate-free projection keeps partition
    pruning + column pruning untouched upstream)."""
    xs = _register(spark, "gq_grid39")
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid39 WHERE y < 2 AND x < 2"
    ).df
    masked = F.when(F.col("v") >= 8, F.col("v"))
    return df.select(
        F.col("ti").cast("long").alias("ti"),
        "y",
        "x",
        masked.alias("masked"),
        F.least(F.greatest(F.col("v"), F.lit(4.0)), F.lit(20.0)).alias("clipped"),
        F.coalesce(masked, F.lit(0.0)).alias("filled"),
    ).orderBy("ti", "y", "x")


# --- third fixture: aperiodic in SPACE too (for 2-D stencils) ------------------
# The _sq fixture is aperiodic in time but LINEAR in y and x, which makes
# any spatial second difference a constant. This variant squares the
# spatial indices as well — still exact binary quarters/halves, so
# stencil arithmetic is bit-identical cross-engine with no rounding.
_SQ2_EXPR_DUCK = (
    "((t.i * t.i) % 32) * 0.25 + ((y.i * y.i) % 16) * 0.5"
    " + ((x.i * x.i) % 16) * 0.25"
)


def _fixture_dataset_sq2() -> Dataset:
    t = np.arange("2024-01-01T00", "2024-01-11T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    y = np.arange(N_Y, dtype=np.int64)
    x = np.arange(N_X, dtype=np.int64)
    ti = np.arange(N_T, dtype=np.int64)
    v = (
        ((ti * ti) % 32)[:, None, None] * 0.25
        + ((y * y) % 16)[None, :, None] * 0.5
        + ((x * x) % 16)[None, None, :] * 0.25
    )
    return Dataset({"v": Variable(("time", "y", "x"), v)}, {"time": t, "y": y, "x": x})


@query(
    "gq40_grid_stencil",
    oracle=f"""
    WITH cells AS (
        SELECT t.i AS ti, y.i AS yi, x.i AS xi,
               {_SQ2_EXPR_DUCK} AS v
        FROM (SELECT unnest(range({N_T})) AS i) t,
             (SELECT unnest(range({N_Y})) AS i) y,
             (SELECT unnest(range({N_X})) AS i) x
        WHERE t.i % 24 = 0
    ),
    n AS (
        SELECT ti, yi, xi, v,
               lag(v)  OVER (PARTITION BY ti, yi ORDER BY xi) AS vxm,
               lead(v) OVER (PARTITION BY ti, yi ORDER BY xi) AS vxp,
               lag(v)  OVER (PARTITION BY ti, xi ORDER BY yi) AS vym,
               lead(v) OVER (PARTITION BY ti, xi ORDER BY yi) AS vyp
        FROM cells
    )
    SELECT CAST(ti AS BIGINT) AS ti,
           CAST(yi AS BIGINT) AS y, CAST(xi AS BIGINT) AS x,
           vxp + vxm + vyp + vym - 4 * v AS lap
    FROM n
    WHERE vxm IS NOT NULL AND vxp IS NOT NULL
      AND vym IS NOT NULL AND vyp IS NOT NULL
    ORDER BY ti, y, x
    """,
    tags=("grid", "datasource", "stencil", "window"),
    bench=False,
)
def gq40_grid_stencil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D spatial stencil over the grid DataSource — the 5-point
    Laplacian v[y+1,x] + v[y-1,x] + v[y,x+1] + v[y,x-1] - 4v (xarray
    users spell this with ``map_blocks`` or shifted-array arithmetic;
    this is the SQL-native form), at daily time slices, interior cells
    only (edge cells lack a neighbor and are dropped, matching the
    valid-region semantics of an unpadded stencil). Neighbor access is
    lag/lead along x within a (t, y) row and along y within a (t, x)
    column — no self-join of the grid against shifted copies of
    itself. All arithmetic is exact binary fractions on the spatially
    aperiodic fixture, so the hash needs no rounding.

    Scale: two exchanges (one per axis ordering) of only the selected
    time slices — the hour-0 filter rides the scan. For chunked grids
    the production variant keys the window by chunk with a halo
    exchange; the verb and the arithmetic are what's pinned here."""
    xs = XarraySession(spark)
    xs.from_dataset("gq_grid40", _fixture_dataset_sq2(), chunks={"time": 24})
    df = xs.sql(
        "SELECT (dayofyear(time) - 1) * 24 + hour(time) AS ti, y, x, v "
        "FROM gq_grid40 WHERE hour(time) = 0"
    ).df
    wx = W.partitionBy("ti", "y").orderBy("x")
    wy = W.partitionBy("ti", "x").orderBy("y")
    n = df.select(
        F.col("ti").cast("long").alias("ti"),
        "y",
        "x",
        "v",
        F.lag("v").over(wx).alias("vxm"),
        F.lead("v").over(wx).alias("vxp"),
        F.lag("v").over(wy).alias("vym"),
        F.lead("v").over(wy).alias("vyp"),
    )
    return (
        n.filter(
            F.col("vxm").isNotNull()
            & F.col("vxp").isNotNull()
            & F.col("vym").isNotNull()
            & F.col("vyp").isNotNull()
        )
        .select(
            "ti",
            "y",
            "x",
            (
                F.col("vxp") + F.col("vxm") + F.col("vyp") + F.col("vym")
                - 4 * F.col("v")
            ).alias("lap"),
        )
        .orderBy("ti", "y", "x")
    )
