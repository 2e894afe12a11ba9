"""Sink layouts (partitioned/bucketed parquet) and a scale-shaped pruning
proof on a 10M-cell store-backed grid."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.operators import sinks
from xarray_sql_spark.session import table
from xarray_sql_spark.xr_session import XarraySession
from xarray_sql_spark.zarr_store import write_zarr


def test_write_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "events_by_type")
    e = table(spark, SF_SMALL, "events")
    sinks.write_partitioned(e, path, ("event_type",))
    dirs = {os.path.basename(p) for p in glob.glob(f"{path}/event_type=*")}
    assert dirs == {f"event_type={t}" for t in
                    ("click", "error", "purchase", "signup", "view")}
    back = spark.read.parquet(path)
    assert back.count() == e.count()
    # partition pruning now works at the listing level
    one = back.filter(F.col("event_type") == "click")
    files = one.select(F.input_file_name()).distinct().collect()
    assert all("event_type=click" in r[0] for r in files)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    e = table(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    agg = e.groupBy("user_id").agg(F.count("*").alias("n"))
    sinks.write_bucketed(e, "t_ev_bucketed", "user_id", 8, sort_col="user_id")
    sinks.write_bucketed(agg, "t_agg_bucketed", "user_id", 8, sort_col="user_id")
    # force the sort-merge path (tiny test data would broadcast otherwise;
    # at scale the dim side wouldn't fit and SMJ is what bucketing serves)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = sinks.bucketed_join(spark, "t_ev_bucketed", "t_agg_bucketed", "user_id")
        assert joined.count() == e.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed layout: the join runs with zero shuffle exchanges
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_ev_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_agg_bucketed")


@pytest.fixture(scope="module")
def big_grid(spark, tmp_path_factory):
    # 1000 x 100 x 100 = 10M cells, float32, store-backed (uncompressed Zarr)
    tmp = tmp_path_factory.mktemp("biggrid")
    t = (
        np.datetime64("2020-01-01", "h") + np.arange(1000)
    ).astype("datetime64[ns]")
    lat = np.linspace(-90, 90, 100)
    lon = np.linspace(-180, 180, 100)
    rng = np.random.default_rng(0)
    v = rng.normal(0, 1, (1000, 100, 100)).astype(np.float32)
    ds = Dataset({"v": Variable(("time", "lat", "lon"), v)}, {"time": t, "lat": lat, "lon": lon})
    store = write_zarr(ds, str(tmp / "store"), chunks={"time": 50}, compressor=None)
    log_dir = str(tmp / "log")
    os.makedirs(log_dir)
    xs = XarraySession(spark)
    xs.from_dataset("big_grid", ds, chunks={"time": 50}, store=store, read_log_dir=log_dir)
    return xs, log_dir, v, t


def _drain(log_dir):
    out = [json.load(open(p)) for p in sorted(glob.glob(log_dir + "/*.json"))]
    for p in glob.glob(log_dir + "/*.json"):
        os.remove(p)
    return out


def test_big_grid_metadata_count_is_instant(big_grid):
    xs, log_dir, _v, _t = big_grid
    assert xs.count("big_grid") == 10_000_000
    assert _drain(log_dir) == []  # zero I/O


def test_big_grid_pruned_query_reads_one_block_of_twenty(big_grid):
    xs, log_dir, v, t = big_grid
    _drain(log_dir)
    out = xs.sql(
        "SELECT AVG(v) AS m, COUNT(*) AS n FROM big_grid "
        "WHERE time >= TIMESTAMP '2020-01-03 02:00:00' "
        "  AND time <  TIMESTAMP '2020-01-05 02:00:00'"
    ).df.collect()[0]
    reads = _drain(log_dir)
    # 48h window inside chunk [50,100) -> exactly 1 of 20 partitions read
    assert len(reads) == 1
    assert out["n"] == 48 * 100 * 100
    want = float(v[50:98].mean(dtype=np.float64))
    assert out["m"] == pytest.approx(want, rel=1e-5)


def test_big_grid_projection_prunes_columns(big_grid):
    xs, log_dir, _v, _t = big_grid
    _drain(log_dir)
    # this query is now metadata-answerable (statistics shortcut); pin the
    # SCAN path here because the point is dims-only column projection
    xs.metadata_aggregates = False
    try:
        xs.sql(
            "SELECT MAX(lat) AS top FROM big_grid WHERE time < TIMESTAMP '2020-01-02'"
        ).df.collect()
    finally:
        xs.metadata_aggregates = True
    reads = _drain(log_dir)
    assert reads  # at least one partition read
    # the data var was never requested from storage — dims-only projection
    assert all(r["vars_read"] == [] for r in reads)


def test_zorder_key_clusters_better_than_rowmajor(spark):
    """The point of the Morton key: a 2-D box predicate maps to FEWER
    contiguous key ranges than under row-major order — each contiguous range
    is (at minimum) one row-group / file a sorted layout can skip or keep
    whole. An aligned 8x8 box is ONE Morton range but 8 row-major ranges;
    the key must also be a bijection onto 0..255 (no collisions, no gaps)."""
    from pyspark.sql import functions as F

    from xarray_sql_spark.operators.layout import zorder_key_4bit

    cells = (
        spark.range(16).select(F.col("id").alias("y"))
        .crossJoin(spark.range(16).select(F.col("id").alias("x")))
        .select("y", "x", zorder_key_4bit(F.col("y"), F.col("x")).alias("zkey"))
        .toPandas()
    )
    assert sorted(cells["zkey"]) == list(range(256))  # a bijection onto 0..255

    def n_ranges(keys):
        ks = sorted(keys)
        return 1 + sum(1 for a, b in zip(ks, ks[1:]) if b != a + 1)

    box = cells[(cells.y < 8) & (cells.x < 8)]
    z_ranges = n_ranges(box["zkey"].tolist())
    rm_ranges = n_ranges((box["y"] * 16 + box["x"]).tolist())
    assert z_ranges == 1, z_ranges     # aligned quadrant: one contiguous run
    assert rm_ranges == 8, rm_ranges   # row-major: one run per row

    # block-granularity skipping (16-key blocks = 4x4 Morton tiles vs one
    # full row): a predicate selective only in x touches HALF the blocks
    # under z-order but EVERY block under row-major — the case single-key
    # sorting cannot serve at all.
    sel = cells[cells.x.between(2, 5)]
    z_blocks = {k // 16 for k in sel["zkey"]}
    rm_blocks = {k // 16 for k in (sel["y"] * 16 + sel["x"])}
    assert len(z_blocks) == 8, sorted(z_blocks)    # 2 x-tiles x 4 y-tiles
    assert len(rm_blocks) == 16, sorted(rm_blocks)  # every row block touched


# --- distributed Zarr sink --------------------------------------------------
def test_distributed_zarr_sink_roundtrip(spark, tmp_path):
    """SQL result -> executor-parallel chunked Zarr -> open_zarr: values
    equal the eager to_dataset path, multiple chunk files exist, and the
    per-chunk write stats account for every row."""
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange(48, dtype=np.int64)
    y = np.arange(6, dtype=np.int64)
    v = t[:, None] * 0.5 + y[None, :] * 0.25
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    xs = XarraySession(spark)
    xs.from_dataset("dz_grid", ds, chunks={"t": 12})
    res = xs.sql("SELECT t, y, v * 2 AS v2 FROM dz_grid")

    path = str(tmp_path / "dz_out.zarr")
    stats = res.to_zarr_distributed(path, dims=["t", "y"], chunks={"t": 8})
    assert sum(stats.values()) == 48 * 6
    assert len(stats) == 6  # 48/8 chunks along t
    assert len(glob.glob(os.path.join(path, "v2", "*.0"))) == 6

    back = open_zarr(path)
    assert back.data_vars["v2"].dims == ("t", "y")
    np.testing.assert_allclose(back.data_vars["v2"].values(), v * 2)
    np.testing.assert_array_equal(back.coords["t"], t)


@pytest.mark.parametrize("fmt,shards", [(2, None), (3, None), (3, {"station": 4})])
def test_distributed_zarr_sink_string_columns(spark, tmp_path, fmt, shards):
    """String DIM and string VALUE columns write through the vlen-utf8
    layout (v2 filter / v3 string data type, sharded included) and read
    back value-identical; string NULLs degrade to the '' fill."""
    from xarray_sql_spark.zarr_store import open_zarr

    rows = [
        (f"st{i:02d}", float(i), f"label-{i}" if i != 3 else None)
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "station string, temp double, label string")
    path = str(tmp_path / f"str{fmt}{bool(shards)}.zarr")
    from xarray_sql_spark.operators.zarr_sink import write_zarr_distributed

    stats = write_zarr_distributed(
        df, path, dims=["station"], chunks={"station": 2},
        zarr_format=fmt, shards=shards,
    )
    assert sum(stats.values()) == 8
    back = open_zarr(path)
    np.testing.assert_array_equal(
        back.coords["station"].astype(str),
        np.array([f"st{i:02d}" for i in range(8)]),
    )
    np.testing.assert_allclose(
        back.data_vars["temp"].values(), np.arange(8.0)
    )
    labels = back.data_vars["label"].values().astype(str)
    want = [f"label-{i}" if i != 3 else "" for i in range(8)]
    np.testing.assert_array_equal(labels, np.array(want))


def test_distributed_zarr_sink_sparse_cells_fill(spark, tmp_path):
    """Rows absent from the result leave fill_value cells; whole chunks with
    no rows are never written (sparse-chunk contract)."""
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange(20, dtype=np.int64)
    y = np.arange(4, dtype=np.int64)
    v = t[:, None] * 1.0 + y[None, :]
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    xs = XarraySession(spark)
    xs.from_dataset("dz_sparse", ds, chunks={"t": 10})
    res = xs.sql("SELECT t, y, v FROM dz_sparse WHERE t < 10 AND NOT (t = 3 AND y = 2)")

    path = str(tmp_path / "dz_sparse.zarr")
    stats = res.to_zarr_distributed(path, dims=["t", "y"], chunks={"t": 5})
    # only t<10 rows survive -> coords span 0..9 -> 2 chunks, both written
    assert len(stats) == 2
    back = open_zarr(path)
    got = back.data_vars["v"].values()
    assert got.shape == (10, 4)
    assert np.isnan(got[3, 2])  # the removed cell fell back to fill
    mask = np.ones_like(got, dtype=bool); mask[3, 2] = False
    np.testing.assert_allclose(got[mask], v[:10][mask])


def test_distributed_zarr_sink_null_in_int_column_raises(spark, tmp_path):
    """A NULL in a column mapped to a non-nullable dtype (int/bool) fails
    with a clear message naming the column, not an opaque astype error;
    float columns degrade to NaN fill as documented."""
    t = np.arange(8, dtype=np.int64)
    ds = Dataset({"v": Variable(("t",), t * 1.0)}, {"t": t})
    xs = XarraySession(spark)
    xs.from_dataset("dz_null", ds, chunks={"t": 4})
    res = xs.sql(
        "SELECT t, CASE WHEN t = 3 THEN NULL ELSE t END AS iv FROM dz_null"
    )
    with pytest.raises(Exception, match="non-nullable dtype"):
        res.to_zarr_distributed(
            str(tmp_path / "dz_null.zarr"), dims=["t"], chunks={"t": 4}
        )


def test_distributed_zarr_sink_rejects_v3_lz4_before_writing(spark, tmp_path):
    """A compressor with no v3 codec spelling fails fast on the driver —
    BEFORE the distributed chunk-write job runs — so no partial store is
    left behind."""
    t = np.arange(8, dtype=np.int64)
    ds = Dataset({"v": Variable(("t",), t * 1.0)}, {"t": t})
    xs = XarraySession(spark)
    xs.from_dataset("dz_lz4v3", ds, chunks={"t": 4})
    res = xs.sql("SELECT t, v FROM dz_lz4v3")
    out = tmp_path / "dz_lz4v3.zarr"
    with pytest.raises(NotImplementedError, match="v3 codec spelling"):
        res.to_zarr_distributed(
            str(out),
            dims=["t"],
            chunks={"t": 4},
            zarr_format=3,
            compressor={"id": "lz4"},
        )
    assert not (out / "v").exists() or not any((out / "v").iterdir())


def test_distributed_zarr_sink_timestamp_dim(spark, tmp_path):
    """A timestamp axis survives the distributed round trip (position join
    on timestamps, M8[us] coord array on disk)."""
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange("2024-03-01T00", "2024-03-02T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    ti = np.arange(24, dtype=np.int64)
    ds = Dataset(
        {"v": Variable(("time",), ti * 0.25)}, {"time": t}
    )
    xs = XarraySession(spark)
    xs.from_dataset("dz_ts", ds, chunks={"time": 6})
    res = xs.sql("SELECT time, v FROM dz_ts")
    path = str(tmp_path / "dz_ts.zarr")
    stats = res.to_zarr_distributed(path, dims=["time"], chunks={"time": 6})
    assert sum(stats.values()) == 24
    back = open_zarr(path)
    np.testing.assert_allclose(back.data_vars["v"].values(), ti * 0.25)
    assert back.coords["time"].dtype.kind == "M"
    assert len(back.coords["time"]) == 24


def test_distributed_zarr_sink_v3_roundtrip(spark, tmp_path):
    """zarr_format=3 emits the modern dialect (zarr.json, c/-keys, gzip
    codec) from executors; values round-trip through the v3 reader and a
    timestamp axis survives."""
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange("2024-06-01T00", "2024-06-02T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    y = np.arange(5, dtype=np.int64)
    ti = np.arange(24, dtype=np.int64)
    v = ti[:, None] * 0.5 + y[None, :] * 0.25
    ds = Dataset({"v": Variable(("time", "y"), v)}, {"time": t, "y": y})
    xs = XarraySession(spark)
    xs.from_dataset("dz3_grid", ds, chunks={"time": 6})
    res = xs.sql("SELECT time, y, v FROM dz3_grid")
    path = str(tmp_path / "dz3.zarr")
    stats = res.to_zarr_distributed(
        path, dims=["time", "y"], chunks={"time": 8}, zarr_format=3
    )
    assert sum(stats.values()) == 24 * 5
    assert os.path.isfile(os.path.join(path, "zarr.json"))
    assert os.path.isfile(os.path.join(path, "v", "c", "0", "0"))
    back = open_zarr(path)
    np.testing.assert_allclose(back.data_vars["v"].values(), v)
    assert back.coords["time"].dtype.kind == "M"
    np.testing.assert_array_equal(
        back.coords["time"].astype("datetime64[us]"), t.astype("datetime64[us]")
    )


def test_distributed_zarr_sink_million_cells(spark, tmp_path):
    """Scale-shaped sink proof: a 1M-cell grid (100x100x100) streams
    through the chunk-key shuffle into 10 executor-written chunk files;
    spot-check a block against the formula and confirm per-chunk stats
    account for every row."""
    from xarray_sql_spark.zarr_store import open_zarr

    n = 100
    t = np.arange(n, dtype=np.int64)
    y = np.arange(n, dtype=np.int64)
    x = np.arange(n, dtype=np.int64)
    v = (
        t[:, None, None] * 1.0 + y[None, :, None] * 0.5 + x[None, None, :] * 0.25
    ).astype(np.float64)
    ds = Dataset({"v": Variable(("t", "y", "x"), v)}, {"t": t, "y": y, "x": x})
    xs = XarraySession(spark)
    xs.from_dataset("dz_mega", ds, chunks={"t": 10})
    res = xs.sql("SELECT t, y, x, v FROM dz_mega")
    path = str(tmp_path / "mega.zarr")
    stats = res.to_zarr_distributed(path, dims=["t", "y", "x"], chunks={"t": 10})
    assert len(stats) == 10
    assert sum(stats.values()) == n ** 3
    back = open_zarr(path)
    blk = back.data_vars["v"].read_block((slice(37, 42), slice(0, 100), slice(0, 100)))
    np.testing.assert_allclose(blk, v[37:42])


def test_distributed_zarr_sink_datetime_value_fill_consistency(spark, tmp_path):
    """A timestamp VALUE column's missing cells read back as NaT both for a
    partially-written chunk and a never-written chunk, in both dialects."""
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange(8, dtype=np.int64)
    y = np.arange(2, dtype=np.int64)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ds = Dataset(
        {
            "ev": Variable(
                ("t", "y"),
                (base + (np.arange(16).reshape(8, 2) * np.timedelta64(1, "h"))),
            )
        },
        {"t": t, "y": y},
    )
    xs = XarraySession(spark)
    xs.from_dataset("dz_dt", ds, chunks={"t": 4})
    # drop one cell inside chunk 0 and ALL of chunk 1 (t >= 4)
    res = xs.sql("SELECT t, y, ev FROM dz_dt WHERE t < 4 AND NOT (t = 1 AND y = 1)")
    for fmt in (2, 3):
        path = str(tmp_path / f"dz_dt_{fmt}.zarr")
        xs2 = res.to_zarr_distributed(
            path, dims=["t", "y"], chunks={"t": 4}, zarr_format=fmt
        )
        back = open_zarr(path)
        got = back.data_vars["ev"].values()
        assert got.shape == (4, 2)
        assert np.isnat(got[1, 1])  # missing inside a written chunk
        mask = ~np.isnat(got)
        np.testing.assert_array_equal(
            got[mask].astype("datetime64[us]"),
            ds.data_vars["ev"].values()[:4][mask].astype("datetime64[us]"),
        )


def test_distributed_zarr_sink_sharded_write(spark, tmp_path):
    """shards= writes one sharding_indexed file per shard from the
    executors (few big files, the object-store layout); the reader
    round-trips values and still does sub-shard inner-chunk range reads."""
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange(32, dtype=np.int64)
    y = np.arange(4, dtype=np.int64)
    v = t[:, None] * 0.5 + y[None, :] * 0.25
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    xs = XarraySession(spark)
    xs.from_dataset("dzs_grid", ds, chunks={"t": 8})
    res = xs.sql("SELECT t, y, v FROM dzs_grid")
    path = str(tmp_path / "dzs.zarr")
    stats = res.to_zarr_distributed(
        path, dims=["t", "y"], chunks={"t": 4}, zarr_format=3, shards={"t": 16}
    )
    assert len(stats) == 2  # 32 / 16 -> two shard files
    assert sum(stats.values()) == 32 * 4
    assert os.path.isfile(os.path.join(path, "v", "c", "0", "0"))
    assert os.path.isfile(os.path.join(path, "v", "c", "1", "0"))
    back = open_zarr(path)
    np.testing.assert_allclose(back.data_vars["v"].values(), v)
    # sub-shard selectivity: rows 4..7 live in inner chunk 1 of shard 0
    zv = back.data_vars["v"].data
    assert zv.chunks == (4, 4)
    zv.last_opened = []
    np.testing.assert_allclose(
        zv.read_block((slice(4, 8), slice(0, 4))), v[4:8]
    )
    assert zv.last_opened == [os.path.join("c", "0", "0") + "[1]"]


def test_distributed_zarr_sink_pure_scan_skips_axis_jobs(spark, tmp_path, monkeypatch):
    """A12 pure-scan detection must feed the sink axes from the SOURCE's
    coord metadata — zero distinct-per-dim jobs (round-6 VERDICT item 4:
    at a 100x time axis, collecting axes from the data is a multi-million
    row driver materialization the metadata already answers)."""
    from xarray_sql_spark.operators import zarr_sink
    from xarray_sql_spark.zarr_store import open_zarr

    t = np.arange(40, dtype=np.int64)
    y = np.arange(5, dtype=np.int64)
    v = t[:, None] * 1.0 + y[None, :]
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    xs = XarraySession(spark)
    xs.from_dataset("dz_pure", ds, chunks={"t": 10})
    res = xs.sql("SELECT t, y, v FROM dz_pure")

    def _boom(*a, **k):
        raise AssertionError("pure-scan sink path must not collect axes")

    monkeypatch.setattr(zarr_sink, "_collect_axes", _boom)
    path = str(tmp_path / "dz_pure.zarr")
    stats = res.to_zarr_distributed(path, dims=["t", "y"], chunks={"t": 10})
    assert sum(stats.values()) == 40 * 5
    back = open_zarr(path)
    np.testing.assert_allclose(back.data_vars["v"].values(), v)
    np.testing.assert_array_equal(back.coords["t"], t)


def test_distributed_zarr_sink_axis_guard(spark, tmp_path, monkeypatch):
    """The fallback axis fetch is length-guarded: an axis past MAX_AXIS_LEN
    fails fast with an actionable message instead of OOMing the driver."""
    from xarray_sql_spark.operators import zarr_sink

    monkeypatch.setattr(zarr_sink, "MAX_AXIS_LEN", 16)
    df = spark.range(100).selectExpr("id AS t", "CAST(id AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="distinct values"):
        zarr_sink.write_zarr_distributed(df, str(tmp_path / "g.zarr"), ["t"])


def test_zarr_region_write_roundtrip(spark, tmp_path):
    """Chunk-aligned region overwrite of an existing store: the region's
    chunks are rewritten from executors, everything outside is untouched
    byte-for-byte, and sparse cells inside the region fall to the store's
    fill_value (xarray to_zarr(region=...) semantics)."""
    from xarray_sql_spark.operators.zarr_sink import write_zarr_region
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    t = np.arange(48, dtype=np.int64)
    y = np.arange(6, dtype=np.int64)
    v = (t[:, None] * 10.0 + y[None, :])
    ds = Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y})
    path = str(tmp_path / "rg.zarr")
    write_zarr(ds, path, chunks={"t": 12})

    # overwrite t in [12, 36) with transformed values
    df = (
        spark.range(12, 36).selectExpr("id AS t")
        .crossJoin(spark.range(6).selectExpr("id AS y"))
        .selectExpr("t", "y", "CAST(-(t * 10 + y) AS DOUBLE) AS v")
    )
    stats = write_zarr_region(df, path, {"t": (12, 36)})
    assert sum(stats.values()) == 24 * 6
    assert set(stats) == {"1.0", "2.0"}

    back = open_zarr(path).data_vars["v"].values()
    want = v.copy()
    want[12:36] = -v[12:36]
    np.testing.assert_allclose(back, want)


def test_zarr_region_write_guards(spark, tmp_path):
    """Misaligned bounds, out-of-region rows, and unsupported store
    features (filter chains) must refuse loudly."""
    from xarray_sql_spark.operators.zarr_sink import write_zarr_region
    from xarray_sql_spark.zarr_store import write_zarr

    t = np.arange(24, dtype=np.int64)
    ds = Dataset({"v": Variable(("t",), t * 1.0)}, {"t": t})
    path = str(tmp_path / "rg2.zarr")
    write_zarr(ds, path, chunks={"t": 8})

    good = spark.range(8, 16).selectExpr("id AS t", "CAST(id AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="not aligned"):
        write_zarr_region(good, path, {"t": (8, 15)})
    with pytest.raises(ValueError, match="outside region"):
        # rows at t in [8,16) but region only covers [16, 24)
        write_zarr_region(good, path, {"t": (16, 24)})
    # sparse region write: absent cells -> fill_value, present updated
    sparse = spark.range(16, 18).selectExpr("id AS t", "CAST(99 AS DOUBLE) AS v")
    write_zarr_region(sparse, path, {"t": (16, 24)}, validate=False)
    from xarray_sql_spark.zarr_store import open_zarr

    back = open_zarr(path).data_vars["v"].values()
    np.testing.assert_allclose(back[16:18], [99.0, 99.0])
    assert np.isnan(back[18:24]).all()  # store's declared float fill (NaN)
    np.testing.assert_allclose(back[:16], t[:16] * 1.0)


def test_zarr_region_write_v3(spark, tmp_path):
    """Region writes honor the v3 chunk-key layout (c/-prefixed) and the
    store's own codec chain."""
    from xarray_sql_spark.operators.zarr_sink import write_zarr_region
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    t = np.arange(16, dtype=np.int64)
    ds = Dataset({"v": Variable(("t",), t * 2.0)}, {"t": t})
    path = str(tmp_path / "rg3.zarr")
    write_zarr(ds, path, chunks={"t": 8}, zarr_format=3,
               compressor={"id": "zstd"})

    df = spark.range(8, 16).selectExpr("id AS t", "CAST(id * -2 AS DOUBLE) AS v")
    stats = write_zarr_region(df, path, {"t": (8, 16)})
    assert sum(stats.values()) == 8
    back = open_zarr(path).data_vars["v"].values()
    np.testing.assert_allclose(back[:8], t[:8] * 2.0)
    np.testing.assert_allclose(back[8:], t[8:] * -2.0)


def test_rechunk_zarr(spark, tmp_path, monkeypatch):
    """Rechunker: time-chunked store -> space-chunked v3 store in one
    shuffle, values identical, destination chunk grid as requested, and
    the axes come from source metadata (no driver axis jobs — the
    monkeypatched collector must never fire)."""
    from xarray_sql_spark.operators import zarr_sink
    from xarray_sql_spark.operators.zarr_sink import rechunk_zarr
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    t = np.arange(24, dtype=np.int64)
    y = np.arange(12, dtype=np.int64)
    v = t[:, None] * 0.5 + y[None, :] * 0.25
    src = str(tmp_path / "src.zarr")
    write_zarr(Dataset({"v": Variable(("t", "y"), v)}, {"t": t, "y": y}),
               src, chunks={"t": 6})

    def _boom(*a, **k):
        raise AssertionError("rechunk must take axes from source metadata")

    monkeypatch.setattr(zarr_sink, "_collect_axes", _boom)
    dst = str(tmp_path / "dst.zarr")
    stats = rechunk_zarr(spark, src, dst, chunks={"y": 4}, zarr_format=3,
                         compressor={"id": "zstd"})
    assert sum(stats.values()) == 24 * 12
    back = open_zarr(dst)
    np.testing.assert_allclose(back.data_vars["v"].values(), v)
    assert back.data_vars["v"].data.chunks == (24, 4)


def test_zarr_region_write_refuses_unsafe_layouts(spark, tmp_path):
    """Round-7 review guards: F-order stores, heterogeneous chunk grids,
    and CF-packed rechunk sources all refuse loudly."""
    import json

    from xarray_sql_spark.operators.zarr_sink import rechunk_zarr, write_zarr_region
    from xarray_sql_spark.zarr_store import write_zarr

    # F-order store: hand-built metadata (with real coordinate arrays so
    # t/y resolve as dims, not value columns)
    path = str(tmp_path / "ford.zarr")
    for name in ("v", "t", "y"):
        os.makedirs(os.path.join(path, name))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)

    def _coord(name, n):
        with open(os.path.join(path, name, ".zarray"), "w") as f:
            json.dump({"zarr_format": 2, "shape": [n], "chunks": [n],
                       "dtype": "<i8", "compressor": None, "fill_value": 0,
                       "order": "C", "filters": None}, f)
        with open(os.path.join(path, name, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": [name]}, f)
        with open(os.path.join(path, name, "0"), "wb") as f:
            f.write(np.arange(n, dtype="<i8").tobytes())

    _coord("t", 4)
    _coord("y", 3)
    a = np.arange(12, dtype="<f8").reshape(4, 3)
    with open(os.path.join(path, "v", ".zarray"), "w") as f:
        json.dump({"zarr_format": 2, "shape": [4, 3], "chunks": [4, 3],
                   "dtype": "<f8", "compressor": None, "fill_value": 0,
                   "order": "F", "filters": None}, f)
    with open(os.path.join(path, "v", ".zattrs"), "w") as f:
        json.dump({"_ARRAY_DIMENSIONS": ["t", "y"]}, f)
    with open(os.path.join(path, "v", "0.0"), "wb") as f:
        f.write(np.asfortranarray(a).tobytes(order="F"))
    df = spark.createDataFrame([(0, 0, 1.0)], "t long, y long, v double")
    with pytest.raises(NotImplementedError, match="F-order"):
        write_zarr_region(df, path, {"t": (0, 4)})

    # heterogeneous chunk grids across variables
    path2 = str(tmp_path / "het.zarr")
    t = np.arange(16, dtype=np.int64)
    write_zarr(Dataset({"a": Variable(("t",), t * 1.0)}, {"t": t}), path2,
               chunks={"t": 8})
    # plant a second var with a different chunk grid
    import shutil

    shutil.copytree(os.path.join(path2, "a"), os.path.join(path2, "b"))
    meta = json.load(open(os.path.join(path2, "b", ".zarray")))
    meta["chunks"] = [4]
    json.dump(meta, open(os.path.join(path2, "b", ".zarray"), "w"))
    # rewrite b's chunks to the 4-grid so the store stays readable
    for f_ in glob.glob(os.path.join(path2, "b", "[0-9]*")):
        os.remove(f_)
    import zlib as _z

    for ci in range(4):
        with open(os.path.join(path2, "b", str(ci)), "wb") as f:
            f.write(_z.compress((t[ci * 4:(ci + 1) * 4] * 1.0).tobytes(), 1))
    mj = json.load(open(os.path.join(path2, ".zmetadata")))
    mj["metadata"]["b/.zarray"] = meta
    mj["metadata"]["b/.zattrs"] = {"_ARRAY_DIMENSIONS": ["t"]}
    json.dump(mj, open(os.path.join(path2, ".zmetadata"), "w"))
    df2 = spark.createDataFrame(
        [(0, 1.0, 2.0)], "t long, a double, b double"
    )
    with pytest.raises(ValueError, match="uniform chunk grid"):
        write_zarr_region(df2, path2, {"t": (0, 8)})
    with pytest.raises(ValueError, match="uniform dims/chunk"):
        rechunk_zarr(spark, path2, str(tmp_path / "x.zarr"), chunks={"t": 4})


def test_rechunk_refuses_cf_packed(spark, tmp_path):
    import json

    from xarray_sql_spark.operators.zarr_sink import rechunk_zarr

    path = str(tmp_path / "packed.zarr")
    os.makedirs(os.path.join(path, "v"))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    raw = np.arange(8, dtype="<i2")
    with open(os.path.join(path, "v", ".zarray"), "w") as f:
        json.dump({"zarr_format": 2, "shape": [8], "chunks": [8],
                   "dtype": "<i2", "compressor": None, "fill_value": 0,
                   "order": "C", "filters": None}, f)
    with open(os.path.join(path, "v", ".zattrs"), "w") as f:
        json.dump({"_ARRAY_DIMENSIONS": ["t"], "scale_factor": 0.5}, f)
    with open(os.path.join(path, "v", "0"), "wb") as f:
        f.write(raw.tobytes())
    with pytest.raises(NotImplementedError, match="CF-packed"):
        rechunk_zarr(spark, path, str(tmp_path / "out.zarr"), chunks={"t": 4})
