"""A4 (exact metadata statistics / COUNT(*) shortcut) and A15 (Arrow stream
export) — reference tests/test_stats.py + reader.py:37-189 equivalents."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from xarray_sql_spark import arrow_io
from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.xr_session import XarraySession
from xarray_sql_spark.zarr_store import write_zarr
from tests.test_grid_engine import air_small


@pytest.fixture(scope="module")
def xs(spark):
    return XarraySession(spark)


def test_count_star_shortcut_no_reads(xs, spark, tmp_path):
    log_dir = str(tmp_path / "log")
    import os

    os.makedirs(log_dir)
    xs.from_dataset("stats_air", air_small(), chunks={"time": 4}, read_log_dir=log_dir)
    assert xs.count("stats_air") == 12 * 11 * 10
    stats = xs.scan_stats("stats_air")
    assert stats["num_partitions"] == 3
    assert stats["rows_per_partition"] == [4 * 11 * 10] * 3
    assert stats["dim_bounds"]["lat"] == (50.0, 75.0)  # true min/max, lat descending
    assert stats["null_count"] == 0
    # the whole thing was answered from metadata: zero partition reads
    assert os.listdir(log_dir) == []
    # and it agrees with the engine-computed count
    assert xs.sql("SELECT COUNT(*) AS n FROM stats_air").df.collect()[0]["n"] == stats[
        "num_rows"
    ]


def test_scan_stats_store_backed(xs, tmp_path):
    ds = air_small()
    path = write_zarr(ds, str(tmp_path / "store"), chunks={"time": 6})
    xs.from_dataset("stats_store", ds, chunks={"time": 6}, store=path)
    stats = xs.scan_stats("stats_store")
    assert stats["num_rows"] == 1320
    assert stats["num_partitions"] == 2


def test_scan_stats_unknown_table(xs):
    with pytest.raises(KeyError):
        xs.scan_stats("nope")


def test_arrow_reader_streams_batches():
    ds = air_small()
    reader = arrow_io.to_arrow_reader(ds, chunks={"time": 4}, batch_size=100)
    batches = list(reader)
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sum(len(b) for b in batches) == 1320
    assert all(len(b) <= 100 for b in batches)
    tbl = pa.Table.from_batches(batches)
    assert tbl.schema.names == ["time", "lat", "lon", "air"]
    # values round-trip: first row is (time[0], lat[0], lon[0], air[0,0,0])
    assert tbl.column("air").to_pylist()[0] == pytest.approx(
        float(ds.data_vars["air"].values()[0, 0, 0])
    )


def test_arrow_reader_is_one_shot():
    reader = arrow_io.to_arrow_reader(air_small())
    assert sum(len(b) for b in reader) == 1320
    assert sum(len(b) for b in reader) == 0  # exhausted, like the reference


def test_read_xarray_dataframe(spark):
    ds = air_small()
    df = arrow_io.read_xarray(spark, ds)
    assert df.columns == ["time", "lat", "lon", "air"]
    assert df.count() == 1320
    got = df.agg({"air": "avg"}).collect()[0][0]
    want = float(np.nanmean(ds.data_vars["air"].values()))
    assert got == pytest.approx(want, rel=1e-6)


def test_set_and_explain_surface(xs, spark):
    # Reference exercises SET + EXPLAIN through the engine
    # (tests/test_stats.py:15-25); Spark's native surface must work through
    # the session wrapper unchanged.
    spark.sql("SET spark.sql.adaptive.enabled").collect()  # SET readable
    xs.from_dataset("explain_air", air_small(), chunks={"time": 4})
    plan = xs.sql(
        "EXPLAIN SELECT lat, AVG(air) AS a FROM explain_air GROUP BY lat"
    ).df.collect()[0][0]
    assert "Aggregate" in plan or "HashAggregate" in plan


def test_arrow_stream_feeds_duckdb_zero_copy():
    """The reference's read_xarray contract: the RecordBatchReader follows
    the Arrow stream protocol, so ANY Arrow-consuming engine can ingest it
    (reference reader.py:175-189). Prove it cross-engine: DuckDB queries
    the stream directly and matches the numpy ground truth."""
    import duckdb

    ds = air_small()
    reader = arrow_io.to_arrow_reader(ds, chunks={"time": 4})
    con = duckdb.connect()
    got = con.execute(
        "SELECT CAST(lat AS DOUBLE) AS lat, avg(air) AS a FROM reader GROUP BY lat ORDER BY lat"
    ).fetchall()
    vals = ds.data_vars["air"].values()
    lats = list(ds.coords["lat"])
    assert len(got) == len(lats)
    want = {float(l): float(np.nanmean(vals[:, i, :])) for i, l in enumerate(lats)}
    for lat, a in got:
        assert a == pytest.approx(want[lat], rel=1e-6)


def test_metadata_dim_aggregates_no_reads(xs, tmp_path):
    """A4 extension: a global MIN/MAX/COUNT-only aggregate over one
    unfiltered scan's dim columns is answered from driver-known coords —
    zero partition reads (DataFusion's statistics-aggregate shortcut).
    Var aggregates, filtered scans, and expressions merely ALIASED to a
    dim name (exprId check) all fall back to the engine."""
    import os

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    xs.from_dataset("magg_air", air_small(), chunks={"time": 4}, read_log_dir=log_dir)

    row = xs.sql(
        "SELECT MIN(time) AS t0, MAX(time) AS t1, COUNT(*) AS n, "
        "MIN(lat) AS la, MAX(lat) AS lb, COUNT(lat) AS nl FROM magg_air"
    ).df.collect()[0]
    assert row.n == 12 * 11 * 10 and row.nl == row.n
    assert (row.la, row.lb) == (50.0, 75.0)  # true min/max, lat stored descending
    assert os.listdir(log_dir) == []  # answered without touching a chunk

    # var aggregate: must read
    xs.sql("SELECT MIN(air) AS m FROM magg_air").df.collect()
    assert len(os.listdir(log_dir)) > 0
    for f in os.listdir(log_dir):
        os.remove(os.path.join(log_dir, f))

    # dim-filtered MIN/MAX: still metadata (masked coord extremes)
    row = xs.sql("SELECT MAX(time) AS t FROM magg_air WHERE lat > 60").df.collect()[0]
    assert str(row.t).startswith("2013-01-01 11") and os.listdir(log_dir) == []

    # an expression aliased to the dim's name must NOT be answered from
    # coords: values differ by the interval
    row = xs.sql(
        "SELECT MIN(time) AS t0 FROM "
        "(SELECT time + INTERVAL 1 HOUR AS time FROM magg_air)"
    ).df.collect()[0]
    base = xs.sql("SELECT MIN(time) AS t0 FROM magg_air").df.collect()[0]
    assert (row.t0 - base.t0).total_seconds() == 3600


def test_metadata_filtered_count_no_reads(xs, tmp_path):
    """Filtered COUNT from coords: a conjunction of simple per-dim
    predicates reduces to per-dim coordinate masks, count = product of
    match counts — still zero partition reads. Var predicates and
    non-count aggregates under a filter fall back to the engine."""
    import os

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    xs.from_dataset("fcnt_air", air_small(), chunks={"time": 4}, read_log_dir=log_dir)

    cases = [
        ("SELECT COUNT(*) AS n FROM fcnt_air "
         "WHERE time >= TIMESTAMP '2013-01-01 06:00:00'", 6 * 11 * 10),
        ("SELECT COUNT(*) AS n FROM fcnt_air "
         "WHERE time BETWEEN TIMESTAMP '2013-01-01 02:00:00' "
         "AND TIMESTAMP '2013-01-01 05:00:00' AND lat > 60", 4 * 6 * 10),
        # lats 75, 60 (= 75 - 2.5*6) and 50 all exist -> 3 matches
        ("SELECT COUNT(lat) AS n FROM fcnt_air WHERE lat IN (75.0, 50.0, 60.0)", 12 * 3 * 10),
        ("SELECT COUNT(*) AS n FROM fcnt_air WHERE lon < 0", 0),
    ]
    for q, expect in cases:
        assert xs.sql(q).df.collect()[0]["n"] == expect, q
        assert os.listdir(log_dir) == [], q

    # filtered MIN/MAX from masks, NULL-on-empty semantics included
    row = xs.sql(
        "SELECT MIN(time) AS t0, MAX(lat) AS l1, COUNT(*) AS n "
        "FROM fcnt_air WHERE lon < 0"
    ).df.collect()[0]
    assert row.t0 is None and row.l1 is None and row.n == 0
    assert os.listdir(log_dir) == []

    # var predicate: engine path
    xs.sql("SELECT COUNT(*) AS n FROM fcnt_air WHERE air > 0").df.collect()
    assert len(os.listdir(log_dir)) > 0


def test_metadata_aggregates_bail_cases(xs, spark, tmp_path):
    """The shortcut must NOT answer: a COUNT over a DISTINCT subquery
    (nested Aggregate changes the row set), duplicate output aliases,
    and tables with an implicit coordless dim (the engine synthesizes
    its positional coords; the session-side Dataset has none) — each
    previously produced a wrong answer or a crash instead of falling
    back to the engine."""
    import numpy as np

    xs.from_dataset("bail_air", air_small(), chunks={"time": 4})

    # nested aggregate: true answer is the distinct lat count, not cells
    n = xs.sql(
        "SELECT COUNT(*) AS n FROM (SELECT DISTINCT lat FROM bail_air)"
    ).df.collect()[0]["n"]
    assert n == 11

    # duplicate aliases: both columns must carry their own aggregate
    row = xs.sql("SELECT MIN(time) AS a, MAX(time) AS a FROM bail_air").df.collect()[0]
    assert row[0] != row[1]

    # coordless dim: count works (engine or ds.sizes) instead of crashing
    t = np.arange(4, dtype=np.int64)
    ds = Dataset(
        {"w": Variable(("t", "cell"), np.arange(12, dtype=np.float64).reshape(4, 3))},
        {"t": t},  # no 'cell' coordinate
    )
    xs.from_dataset("bail_cell", ds, chunks={"t": 2})
    assert xs.sql("SELECT COUNT(*) AS n FROM bail_cell").df.collect()[0]["n"] == 12
    # min over the implicit dim: engine path synthesizes 0..n-1
    assert xs.sql("SELECT MIN(cell) AS m FROM bail_cell").df.collect()[0]["m"] == 0

    # COUNT(NULL) is 0, not the cell count — a null literal must not be
    # classified as COUNT(*)
    assert xs.sql("SELECT COUNT(NULL) AS n FROM bail_air").df.collect()[0]["n"] == 0

    # IN value outside the coord dtype's range: the literal->int32 cast
    # would overflow-wrap (silently, on older numpy) to 1 and double the
    # count; the round-trip guard must fall back to the engine instead
    t32 = np.arange(4, dtype=np.int32)
    ds32 = Dataset(
        {"w": Variable(("t", "cell"), np.arange(12, dtype=np.float64).reshape(4, 3))},
        {"t": t32, "cell": np.arange(3, dtype=np.int64)},
    )
    xs.from_dataset("bail_i32", ds32, chunks={"t": 2})
    n = xs.sql(
        "SELECT COUNT(*) AS n FROM bail_i32 WHERE t IN (1, 4294967297)"
    ).df.collect()[0]["n"]
    assert n == 3  # only t = 1 matches (2**32 + 1 is out of int32 range)


def test_metadata_aggregates_differential_fuzz(xs, tmp_path):
    """Differential fuzz: random per-dim predicate conjunctions, random
    MIN/MAX/COUNT targets — the shortcut's answer must equal the engine's
    on every one (seeded, reproducible). Also asserts the shortcut
    actually engaged (zero reads) on a healthy fraction of cases, so the
    equality check isn't vacuously comparing engine to engine."""
    import os
    import random

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    t = np.arange("2022-06-01T00", "2022-06-02T00", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    lat = np.linspace(30.0, -30.0, 7)  # descending, crosses zero
    k = np.arange(5, dtype=np.int64) * 3  # 0,3,6,9,12
    v = np.arange(t.size * lat.size * k.size, dtype=np.float64).reshape(
        t.size, lat.size, k.size
    )
    ds = Dataset({"v": Variable(("time", "lat", "k"), v)}, {"time": t, "lat": lat, "k": k})
    xs.from_dataset("fuzz_t", ds, chunks={"time": 6}, read_log_dir=log_dir)

    rng = random.Random(20260814)
    t_lits = [
        "TIMESTAMP '2022-06-01 00:00:00'", "TIMESTAMP '2022-06-01 07:30:00'",
        "TIMESTAMP '2022-06-01 13:00:00'", "TIMESTAMP '2022-06-01 23:00:00'",
        "TIMESTAMP '2022-06-02 04:00:00'",
    ]
    lat_lits = ["-30.0", "-10.0", "0.0", "12.34", "30.0"]
    k_lits = ["0", "4", "6", "11", "12"]
    pools = {"time": t_lits, "lat": lat_lits, "k": k_lits}
    ops = [">", ">=", "<", "<=", "="]

    def conjunct():
        dim = rng.choice(list(pools))
        kind = rng.random()
        if kind < 0.6:
            return f"{dim} {rng.choice(ops)} {rng.choice(pools[dim])}"
        if kind < 0.8 and dim != "time":
            vals = ", ".join(rng.sample(pools[dim], 2))
            return f"{dim} IN ({vals})"
        lo, hi = sorted(rng.sample(range(len(pools[dim])), 2))
        return f"{dim} BETWEEN {pools[dim][lo]} AND {pools[dim][hi]}"

    shortcut_hits = 0
    for case in range(25):
        where = " AND ".join(conjunct() for _ in range(rng.randint(1, 3)))
        d1, d2 = rng.sample(["time", "lat", "k"], 2)
        q = (
            f"SELECT MIN({d1}) AS a, MAX({d2}) AS b, COUNT(*) AS n "
            f"FROM fuzz_t WHERE {where}"
        )
        fast = xs.sql(q).df.collect()[0]
        if os.listdir(log_dir) == []:
            shortcut_hits += 1
        for f in os.listdir(log_dir):
            os.remove(os.path.join(log_dir, f))
        xs.metadata_aggregates = False
        try:
            slow = xs.sql(q).df.collect()[0]
        finally:
            xs.metadata_aggregates = True
        for f in os.listdir(log_dir):
            os.remove(os.path.join(log_dir, f))
        assert tuple(fast) == tuple(slow), (q, fast, slow)
    assert shortcut_hits >= 15, shortcut_hits


def test_store_meta_cache_invalidates_on_append(xs, tmp_path, monkeypatch):
    """Store-backed stats queries cache the coords-only Dataset against a
    metadata-file fingerprint: the second query opens nothing, and an
    append (which rewrites array metadata) invalidates the entry so the
    count reflects the new shape."""
    from xarray_sql_spark import dataset as dataset_mod
    from xarray_sql_spark.zarr_store import append_zarr, write_zarr

    t = np.arange("2024-02-01T00", "2024-02-01T08", dtype="datetime64[h]").astype(
        "datetime64[ns]"
    )
    ds = Dataset(
        {"v": Variable(("time",), np.arange(8, dtype=np.float64))}, {"time": t}
    )
    path = write_zarr(ds, str(tmp_path / "meta.zarr"), chunks={"time": 4})
    xs.from_dataset("mc_t", Dataset.open_store(path), chunks={"time": 4}, store=path)

    opens = []
    real = dataset_mod.Dataset.open_store

    def counting(store, *a, **k):
        opens.append(store)
        return real(store, *a, **k)

    monkeypatch.setattr(dataset_mod.Dataset, "open_store", staticmethod(counting))
    assert xs.sql("SELECT COUNT(*) AS n FROM mc_t").df.collect()[0]["n"] == 8
    first = len(opens)
    assert first >= 1
    assert xs.sql("SELECT MAX(time) AS t FROM mc_t").df.collect()[0].t is not None
    assert len(opens) == first  # cache hit: no re-open

    slab = Dataset(
        {"v": Variable(("time",), np.arange(4, dtype=np.float64))},
        {"time": t[:4] + np.timedelta64(8, "h")},
    )
    append_zarr(slab, path, "time")
    row = xs.sql("SELECT COUNT(*) AS n, MAX(time) AS t FROM mc_t").df.collect()[0]
    assert row["n"] == 12
    assert str(row["t"]).startswith("2024-02-01 11")  # truly extended series
    assert len(opens) > first  # fingerprint changed: fresh open


def test_metadata_aggregates_with_parameterized_query(xs, tmp_path):
    """Named parameters analyze into literals before the plan walk, so a
    parameterized dim filter still takes the metadata path — and agrees
    with the engine."""
    import os

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    xs.from_dataset("parm_air", air_small(), chunks={"time": 4}, read_log_dir=log_dir)
    q = "SELECT COUNT(*) AS n, MAX(lat) AS top FROM parm_air WHERE lat <= :cut"
    row = xs.sql(q, args={"cut": 60.0}).df.collect()[0]
    assert row["n"] == 12 * 5 * 10 and row["top"] == 60.0  # lats 60..50
    assert os.listdir(log_dir) == []
    xs.metadata_aggregates = False
    try:
        slow = xs.sql(q, args={"cut": 60.0}).df.collect()[0]
    finally:
        xs.metadata_aggregates = True
    assert tuple(row) == tuple(slow)
