"""Regression tests for the round-7 grid-core review fixes.

Covers: unsigned/half dtype bridging over Arrow (Spark rejects uint
batches), NaT-safe partition pruning and metadata shortcuts, implicit
(coordless) dims on store-backed re-opens, stream slabs split on the
store's absolute chunk grid, stale group views dropped on
re-registration, and the collation gate on string metadata shortcuts.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from xarray_sql_spark.bounds import coord_mask, dim_bounds
from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.xr_session import XarraySession


@pytest.fixture(scope="module")
def xs(spark):
    return XarraySession(spark)


# --- unsigned / half-float dtype bridging -----------------------------------


def test_unsigned_and_half_dtypes_roundtrip(xs):
    """uint* data vars must widen to signed Arrow ints (Spark raises
    UNSUPPORTED_ARROWTYPE on uint batches) and float16 to float32 —
    losslessly, including uint32 values above int32 max."""
    n = 4
    ds = Dataset(
        {
            "u8": Variable(("i",), np.array([0, 1, 200, 255], dtype=np.uint8)),
            "u16": Variable(("i",), np.array([0, 1, 60_000, 65_535], dtype=np.uint16)),
            "u32": Variable(("i",), np.array([0, 1, 3_000_000_000, 2**32 - 1], dtype=np.uint32)),
            "u64": Variable(("i",), np.array([0, 1, 2**40, 2**62], dtype=np.uint64)),
            "h": Variable(("i",), np.array([0.5, -1.5, 2.25, 8.0], dtype=np.float16)),
        },
        {"i": np.arange(n, dtype=np.int64)},
    )
    xs.from_dataset("uints", ds)
    rows = xs.spark.sql("SELECT * FROM uints ORDER BY i").collect()
    assert [r.u8 for r in rows] == [0, 1, 200, 255]
    assert [r.u16 for r in rows] == [0, 1, 60_000, 65_535]
    assert [r.u32 for r in rows] == [0, 1, 3_000_000_000, 2**32 - 1]
    assert [r.u64 for r in rows] == [0, 1, 2**40, 2**62]
    assert [r.h for r in rows] == [0.5, -1.5, 2.25, 8.0]
    dt = dict(xs.spark.table("uints").dtypes)
    assert dt["u8"] == "smallint" and dt["u16"] == "int"
    assert dt["u32"] == "bigint" and dt["u64"] == "bigint"
    assert dt["h"] == "float"


def test_uint64_above_int64_max_raises_not_wraps():
    from xarray_sql_spark.pivot import _to_arrow_array

    with pytest.raises(Exception, match="(?i)overflow|not in range|invalid"):
        _to_arrow_array(np.array([2**63], dtype=np.uint64), pa.int64())


# --- NaT safety: pruning bounds, predicate mask, min/max shortcut -----------


def _nat_ds():
    time = np.array(
        ["2024-01-01T00", "NaT", "2024-01-01T02", "2024-01-01T03"],
        dtype="datetime64[ns]",
    )
    lat = np.array([10.0, 20.0], dtype=np.float64)
    v = np.arange(8, dtype=np.float64).reshape(4, 2)
    return Dataset({"v": Variable(("time", "lat"), v)}, {"time": time, "lat": lat})


def test_nat_coord_bounds_skip_dim():
    c = np.array(["2024-01-01", "NaT", "2024-01-03"], dtype="datetime64[ns]")
    assert dim_bounds({"t": c}, {"t": slice(0, 3)}) == {}
    # NaT-free segment of the same axis still produces bounds
    assert "t" in dim_bounds({"t": c}, {"t": slice(2, 3)})


def test_nat_coord_predicate_mask_declines():
    c = np.array(["2024-01-01", "NaT"], dtype="datetime64[ns]")
    # plan introspection hands timestamp literals as (epoch_us, type)
    epoch_us = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    lits = [(epoch_us, "timestamp")]
    assert coord_mask(c, ">=", lits) is None
    # NaT-free axis still takes the shortcut
    ok = np.array(["2024-01-01", "2024-01-02"], dtype="datetime64[ns]")
    assert coord_mask(ok, ">=", lits).tolist() == [True, True]


def test_nat_coord_no_false_prune_and_correct_minmax(xs):
    """A chunked time axis containing NaT must not prune away real rows
    (NaT canonicalizes to INT64_MIN) and min/max must exclude the NaT row
    (it pivots to NULL) rather than return it via the metadata shortcut."""
    xs.from_dataset("natgrid", _nat_ds(), chunks={"time": 2})
    got = xs.spark.sql(
        "SELECT count(*) AS n FROM natgrid WHERE time >= TIMESTAMP '2024-01-01 02:00:00'"
    ).collect()[0].n
    assert got == 4  # rows 2 and 3, two lats each; NaT row excluded as NULL
    mm = xs.sql("SELECT min(time) AS lo, max(time) AS hi FROM natgrid").df.collect()[0]
    assert str(mm.lo) == "2024-01-01 00:00:00"
    assert str(mm.hi) == "2024-01-01 03:00:00"
    # the zero-job count shortcut must not count the NULL-time rows here
    for q, expect in [
        ("SELECT count(*) AS n FROM natgrid WHERE time IS NOT NULL", 6),
        ("SELECT count(*) AS n FROM natgrid", 8),
    ]:
        assert xs.sql(q).df.collect()[0].n == expect


def test_nan_literal_neither_prunes_nor_shortcuts(xs):
    """Spark orders NaN above every number, so ``lat < NaN`` holds on every
    row; numpy compares NaN False. The coordinate masks must decline a NaN
    literal, in the metadata shortcut and in the scan's block pruning."""
    lat = np.array([-10.0, 0.0, 10.0, 20.0])
    xs.from_dataset("nanlit", Dataset({"v": (("lat",), np.arange(4.0))}, {"lat": lat}),
                    chunks={"lat": 2})
    where = "WHERE lat < CAST('NaN' AS DOUBLE)"
    assert xs.sql(f"SELECT count(*) AS n FROM nanlit {where}").df.collect()[0].n == 4
    xs.metadata_aggregates = False
    try:
        assert len(xs.sql(f"SELECT * FROM nanlit {where}").df.collect()) == 4
    finally:
        xs.metadata_aggregates = True


def test_nat_coord_schema_nullable_only_when_needed(xs):
    xs.from_dataset("natgrid", _nat_ds(), chunks={"time": 2})
    f = {f.name: f.nullable for f in xs.spark.table("natgrid").schema.fields}
    assert f["time"] is True  # NaT present -> nullable
    assert f["lat"] is False  # clean axis stays non-nullable


# --- implicit (coordless) dims on store-backed paths ------------------------


def test_coordless_dim_store_scan(xs, tmp_path):
    """A store dim with no coordinate array pivots as 0..n-1 (reference
    df.py: a dim without coords still pivots positionally) — the reader's
    store re-open must synthesize it instead of KeyError-ing."""
    from xarray_sql_spark.zarr_store import write_zarr

    ds = Dataset(
        {"v": Variable(("time", "idx"), np.arange(12, dtype=np.float64).reshape(4, 3))},
        {"time": np.datetime64("2024-01-01", "h") + np.arange(4)},
    )
    path = write_zarr(ds, str(tmp_path / "cl.zarr"), chunks={"time": 2})
    from xarray_sql_spark.zarr_store import open_zarr

    xs.from_dataset("coordless", open_zarr(path), chunks={"time": 2}, store=path)
    rows = xs.spark.sql(
        "SELECT idx, sum(v) AS s FROM coordless GROUP BY idx ORDER BY idx"
    ).collect()
    assert [r.idx for r in rows] == [0, 1, 2]
    assert [r.s for r in rows] == [18.0, 22.0, 26.0]


def test_coordless_dim_arrow_reader():
    from xarray_sql_spark.arrow_io import to_arrow_reader

    ds = Dataset(
        {"v": Variable(("a", "b"), np.arange(6, dtype=np.int64).reshape(2, 3))},
        {"a": np.array([10, 20], dtype=np.int64)},
    )
    tbl = to_arrow_reader(ds).read_all()
    assert tbl.column("b").to_pylist() == [0, 1, 2, 0, 1, 2]
    assert tbl.column("v").to_pylist() == [0, 1, 2, 3, 4, 5]


# --- stream slabs split on the absolute chunk grid --------------------------


def test_stream_partitions_align_to_chunk_grid(tmp_path):
    """A micro-batch over [2, 10) with time chunked by 4 must split at the
    STORE's chunk boundaries (2-4, 4-8, 8-10): a block shifted relative to
    the slab start would straddle two physical chunk files and re-read
    both on every executor."""
    from pyspark.sql import types as T

    from xarray_sql_spark.sources.grid_source import GridStreamReader, make_payload
    from xarray_sql_spark.zarr_store import write_zarr

    time = np.datetime64("2024-01-01", "h") + np.arange(12)
    lat = np.linspace(-30.0, 30.0, 3)
    v = np.arange(36, dtype=np.float64).reshape(12, 3)
    path = write_zarr(
        Dataset({"v": Variable(("time", "lat"), v)}, {"time": time, "lat": lat}),
        str(tmp_path / "s.zarr"),
        chunks={"time": 4},
    )
    payload = make_payload(store=path, chunks={"time": 4})
    payload["append_dim"] = "time"
    schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in payload["arrow_schema"].names]
    )
    reader = GridStreamReader(payload, schema)
    parts = reader.partitions({"offset": 2}, {"offset": 10})
    spans = sorted({p.block["time"] for p in parts})
    assert spans == [(2, 4), (4, 8), (8, 10)]
    for a, b in spans:  # each span stays inside one physical chunk
        assert a // 4 == (b - 1) // 4
    # batches from the shifted slab carry the right wall-clock coords
    got = sorted(
        t
        for p in parts
        for b in reader.read(p)
        for t in b.column(b.schema.get_field_index("time")).to_pylist()
    )
    expect = sorted(
        np.repeat(time[2:10].astype("datetime64[us]").astype("O"), 3).tolist()
    )
    assert got == expect


# --- stale group views dropped on re-registration ---------------------------


def test_reregister_drops_stale_group_views(spark):
    xs2 = XarraySession(spark)
    multi = Dataset(
        {
            "a": Variable(("t", "x"), np.ones((2, 2))),
            "b": Variable(("z",), np.arange(3, dtype=np.float64)),
        },
        {"t": np.arange(2, dtype=np.int64), "x": np.arange(2, dtype=np.int64),
         "z": np.arange(3, dtype=np.int64)},
    )
    xs2.from_dataset("regro", multi)
    assert spark.sql("SELECT count(*) AS n FROM regro__z").collect()[0].n == 3
    single = Dataset(
        {"a": Variable(("t", "x"), np.full((2, 2), 7.0))},
        {"t": np.arange(2, dtype=np.int64), "x": np.arange(2, dtype=np.int64)},
    )
    xs2.from_dataset("regro", single)
    # old per-group views are gone; the new flat view serves the NEW data
    assert not spark.catalog.tableExists("regro__z")
    assert not spark.catalog.tableExists("regro__t_x")
    assert spark.sql("SELECT sum(a) AS s FROM regro").collect()[0].s == 28.0


# --- collation gate on string metadata shortcuts ----------------------------


def test_string_metadata_shortcut_declines_nonbinary_collation(spark, monkeypatch):
    """Under a collation-aware session default (e.g. UTF8_LCASE), numpy
    code-point min/max disagrees with the engine's ordering, so the
    metadata shortcut must defer — results still correct via the engine."""
    xs2 = XarraySession(spark)
    ds = Dataset(
        {"v": Variable(("station",), np.array([1.0, 2.0, 3.0]))},
        {"station": np.array(["b", "A", "c"])},
    )
    xs2.from_dataset("collstats", ds)
    q = "SELECT min(station) AS lo, max(station) AS hi, count(*) AS n FROM collstats"
    fast = xs2.sql(q).df.collect()[0]
    assert (fast.lo, fast.hi, fast.n) == ("A", "c", 3)
    monkeypatch.setattr(xs2, "_binary_collation", lambda: False)
    assert xs2._with_metadata_aggregates(xs2.spark.sql(q)) is None
    slow = xs2.sql(q).df.collect()[0]
    assert (slow.lo, slow.hi, slow.n) == ("A", "c", 3)


def test_nat_coord_count_dim_excludes_nulls(xs):
    """COUNT(dim) must exclude the NaT rows (they pivot to SQL NULL) even
    when the zero-job metadata shortcut answers."""
    xs.from_dataset("natgrid", _nat_ds(), chunks={"time": 2})
    assert xs.sql("SELECT count(time) AS n FROM natgrid").df.collect()[0].n == 6
    assert xs.sql("SELECT count(lat) AS n FROM natgrid").df.collect()[0].n == 8
    # and the shortcut really is the responder for the clean-dim case
    fast = xs._with_metadata_aggregates(
        xs.spark.sql("SELECT count(time) AS n FROM natgrid")
    )
    assert fast is None or fast.collect()[0].n == 6


def test_computed_dim_alias_does_not_borrow_source_axis(spark):
    """A Project computing ``i + 10 AS i`` is still a pure scan by node
    shape, but the aliased dim must NOT resolve coordinates from the
    source axis (exprId passthrough check) — the shifted values are the
    real coordinates."""
    xs2 = XarraySession(spark)
    ds = Dataset(
        {"v": Variable(("i",), np.array([1.0, 2.0, 3.0, 4.0]))},
        {"i": np.arange(4, dtype=np.int64)},
    )
    xs2.from_dataset("psrc", ds)
    out = xs2.sql("SELECT i + 10 AS i, v FROM psrc").to_dataset(
        dims=("i",), chunks={"i": 2}
    )
    assert np.asarray(out.coords["i"]).tolist() == [10, 11, 12, 13]
    np.testing.assert_allclose(
        np.asarray(out.data_vars["v"].values()), [1.0, 2.0, 3.0, 4.0]
    )
    # the bare passthrough still takes the zero-job source-axis path
    out2 = xs2.sql("SELECT i, v FROM psrc").to_dataset(dims=("i",), chunks={"i": 2})
    assert np.asarray(out2.coords["i"]).tolist() == [0, 1, 2, 3]
