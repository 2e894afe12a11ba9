"""The Python DataSource boundary's fixed costs: the zip-importer re-read
guard (``sources/zipguard.py``) and the O(1) pickled scan of
``sources/grid_source.py``."""

from __future__ import annotations

import importlib
import pickle
import sys
import types
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from pyspark.worker_util import pickleSer  # the serializer of the worker boundary

from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.sources import zipguard
from xarray_sql_spark.sources.grid_source import (
    GridDataSource,
    GridReader,
    make_payload,
    spark_schema,
)
from xarray_sql_spark.zarr_store import open_zarr, write_zarr


# --- zip-importer re-read guard ---------------------------------------------
def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    zipguard.install()
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zg_first": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for mod in ("zg_first", "zg_second"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(path, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archives whose central directory gets read from now on."""
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_zip_guard_skips_unchanged_archive(zip_on_path, directory_reads):
    import zg_first

    assert zg_first.X == 1
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)
    importlib.invalidate_caches()  # a process's first call may read once
    directory_reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert directory_reads == []


def test_zip_guard_picks_up_rewritten_archive(zip_on_path, directory_reads):
    import zg_first  # noqa: F401

    importlib.invalidate_caches()
    directory_reads.clear()
    _write_zip(zip_on_path, {"zg_first": "X = 1\n", "zg_second": "Y = 2\n"})
    importlib.invalidate_caches()
    import zg_second

    assert zg_second.Y == 2
    if sys.version_info < (3, 13):  # eager interpreters: exactly one re-read
        assert directory_reads == [zip_on_path]


def _fake_zipimport(invalidate_caches):
    cls = type("zipimporter", (), {"invalidate_caches": invalidate_caches})
    return types.SimpleNamespace(zipimporter=cls, _zip_directory_cache={})


def test_zip_guard_only_where_reread_is_eager():
    def lazy(self):  # 3.13+: drop the cache entry, read on next lookup
        zipimport._zip_directory_cache.pop(self.archive, None)

    def eager(self):  # <= 3.12: read the whole directory now
        self._files = zipimport._read_directory(self.archive)

    fake = _fake_zipimport(lazy)
    zipguard.install(fake)
    assert fake.zipimporter.invalidate_caches is lazy

    fake = _fake_zipimport(eager)
    zipguard.install(fake)
    guarded = fake.zipimporter.invalidate_caches
    assert guarded is not eager and guarded.guarded
    zipguard.install(fake)  # idempotent
    assert fake.zipimporter.invalidate_caches is guarded


# --- O(1) task payload --------------------------------------------------------
def _grid(nt: int, ny: int, nx: int) -> Dataset:
    rng = np.random.default_rng(3)
    coords = {
        "time": np.datetime64("2001-01-01T00", "h") + np.arange(nt),
        "lat": np.linspace(-60.0, 60.0, ny).astype(np.float32),
        "lon": np.linspace(0.0, 350.0, nx).astype(np.float32),
    }
    return Dataset(
        {
            v: Variable(("time", "lat", "lon"), rng.standard_normal((nt, ny, nx), dtype=np.float32))
            for v in ("t2m", "u10")
        },
        coords,
    )


def test_pickled_scan_is_o1_in_grid_size(tmp_path):
    """The benchmark's in-memory grid (2160x32x32, two float32 vars, 17.7 MB)
    in 24-step blocks: the data source and reader every task receives stay
    under 64 KB, and each partition carries only its own block."""
    path = str(tmp_path / "payload.pkl")
    with open(path, "wb") as f:
        pickle.dump(make_payload(dataset=_grid(2160, 32, 32), chunks={"time": 24}), f)
    source = GridDataSource({"payload": path})
    reader = source.reader(source.schema())  # loads the whole payload
    parts = reader.partitions()
    assert len(parts) == 90
    assert len(pickleSer.dumps(source)) < 64 * 1024
    assert len(pickleSer.dumps(reader)) < 64 * 1024
    for p in parts:
        block_bytes = sum(a.nbytes for a in p.arrays.values())
        assert block_bytes == 24 * 32 * 32 * 4 * 2
        assert len(pickleSer.dumps(p)) <= block_bytes + 4096


@pytest.mark.parametrize("backing", ["memory", "store", "lazy"])
@pytest.mark.parametrize("columns", [None, ["lon", "u10", "time"]])
def test_reader_round_trip_yields_identical_batches(tmp_path, backing, columns):
    """A reader and partitions that crossed the pickle boundary yield the
    same bytes as the planner's own, for every partition (blocks chunked on
    two dims, so in-memory blocks are non-contiguous views). ``lazy``
    registers an opened store in memory: its blocks are read in the task."""
    ds = _grid(48, 8, 6)
    chunks = {"time": 12, "lat": 4}
    if backing == "memory":
        payload = make_payload(dataset=ds, chunks=chunks)
    else:
        store = write_zarr(ds, str(tmp_path / "g.zarr"), chunks=chunks)
        payload = make_payload(
            dataset=open_zarr(store) if backing == "lazy" else None,
            store=store if backing == "store" else None,
            chunks=chunks,
        )
    fields = payload["arrow_schema"]
    if columns is not None:
        fields = pa.schema([fields.field(c) for c in columns])
    reader = GridReader(payload, spark_schema(fields))
    parts = reader.partitions()
    assert len(parts) == 8
    carried = {type(a) for p in parts if p.arrays for a in p.arrays.values()}
    assert carried == {"memory": {np.ndarray}, "store": set(), "lazy": {Variable}}[backing]
    shipped = pickleSer.loads(pickleSer.dumps(reader))
    u10 = []
    for p in parts:
        want = list(reader.read(p))
        got = list(shipped.read(pickleSer.loads(pickleSer.dumps(p))))
        assert [b.serialize().to_pybytes() for b in got] == [
            b.serialize().to_pybytes() for b in want
        ]
        u10 += [b.column(b.schema.get_field_index("u10")).to_numpy() for b in got]
    np.testing.assert_array_equal(
        np.sort(np.concatenate(u10)), np.sort(ds.data_vars["u10"].values().ravel())
    )


# --- block packing and task-side reads ----------------------------------------
def _store_reader(
    tmp_path, cores=None, columns=None, max_partition_bytes=None, open_cost_bytes=None
):
    """A reader over a 9-block store (time chunks of 8 of 72 steps)."""
    store = write_zarr(_grid(72, 4, 3), str(tmp_path / "p.zarr"), chunks={"time": 8})
    payload = make_payload(store=store, chunks={"time": 8})
    if cores is not None:
        payload["cores"] = cores
    if max_partition_bytes is not None:
        payload["max_partition_bytes"] = max_partition_bytes
    if open_cost_bytes is not None:
        payload["open_cost_bytes"] = open_cost_bytes
    fields = payload["arrow_schema"]
    if columns is not None:
        fields = pa.schema([fields.field(c) for c in columns])
    return GridReader(payload, spark_schema(fields))


def test_packing_follows_the_file_partition_rule(tmp_path):
    from pyspark.sql.datasource import GreaterThanOrEqual

    from xarray_sql_spark.sources.grid_source import GridPartition, PackedPartition

    # no core count in the payload: one block per partition
    assert [p.index for p in _store_reader(tmp_path).partitions()] == list(range(9))
    # with no open cost: 4 cores, 4 contiguous, balanced runs covering all
    # 9 blocks in order
    parts = _store_reader(tmp_path, cores=4, open_cost_bytes=0).partitions()
    assert all(isinstance(p, PackedPartition) for p in parts)
    runs = [[b.index for b in p.blocks] for p in parts]
    assert [i for r in runs for i in r] == list(range(9))
    assert sorted(len(r) for r in runs) == [2, 2, 2, 3]
    # bytes over maxPartitionBytes raise the task count above the cores
    many = _store_reader(
        tmp_path, cores=2, max_partition_bytes=8 * 4 * 3 * 4 * 2 * 3, open_cost_bytes=0
    )
    assert len(many.partitions()) == 3
    # a scan that reads no variable is sized by its emitted coordinates
    assert len(_store_reader(tmp_path, cores=4, open_cost_bytes=0, columns=["time"])
               .partitions()) == 4
    # at most `cores` kept blocks: left as they are
    reader = _store_reader(tmp_path, cores=4, open_cost_bytes=0)
    reader.pushFilters([GreaterThanOrEqual(("time",), np.datetime64("2001-01-03T00", "us").item())])
    kept = reader.partitions()
    assert [type(p) for p in kept] == [GridPartition] * 3
    assert [p.index for p in kept] == [6, 7, 8]


def test_packed_task_opens_the_store_once_without_coordinates(tmp_path, monkeypatch):
    """A packed partition opens the store once and decodes no coordinate
    chunk (the reader carries the coordinates); its batches equal the
    unpacked reader's, block for block."""
    from xarray_sql_spark import zarr_store
    from xarray_sql_spark.dataset import Dataset as DS

    packed = _store_reader(tmp_path, cores=2, open_cost_bytes=0)
    plain = _store_reader(tmp_path)
    want = [b for p in plain.partitions() for b in plain.read(p)]
    parts = packed.partitions()
    assert len(parts) == 2

    opens, coord_reads = [], []
    real_open, real_values = DS.open_store, zarr_store.ZarrArray.values
    monkeypatch.setattr(
        DS, "open_store",
        classmethod(lambda cls, path, **kw: opens.append(kw) or real_open(path, **kw)),
    )

    def values(self):
        coord_reads.append(self.path)
        return real_values(self)

    monkeypatch.setattr(zarr_store.ZarrArray, "values", values)
    got = [b for p in parts for b in packed.read(p)]
    assert opens == [{"load_coords": False}] * 2
    assert coord_reads == []
    assert [b.serialize().to_pybytes() for b in got] == [
        b.serialize().to_pybytes() for b in want
    ]


def test_default_open_cost_packs_a_small_filtered_read_into_one_task(tmp_path):
    """Under Spark's default open cost (4 MiB) a read of a few kept cells
    spread over five blocks is one task, and it emits only those cells;
    an unfiltered read of the whole small store is one task too."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from xarray_sql_spark.sources.grid_source import PackedPartition

    assert len(_store_reader(tmp_path, cores=4).partitions()) == 1
    reader = _store_reader(tmp_path, cores=4)
    t = np.datetime64("2001-01-01T00", "us") + np.timedelta64(20, "h")
    unhandled = list(reader.pushFilters([
        GreaterThanOrEqual(("time",), t.item()),
        LessThan(("time",), (t + np.timedelta64(30, "h")).item()),
    ]))
    assert unhandled == []
    parts = reader.partitions()
    assert len(parts) == 1 and isinstance(parts[0], PackedPartition)
    assert [b.index for b in parts[0].blocks] == [2, 3, 4, 5, 6]
    rows = sum(b.num_rows for b in reader.read(parts[0]))
    assert rows == 30 * 4 * 3


def test_reader_pivots_only_requested_columns(tmp_path):
    reader = _store_reader(tmp_path, columns=["u10"])
    batches = [b for p in reader.partitions() for b in reader.read(p)]
    assert {tuple(b.schema.names) for b in batches} == {("u10",)}
    got = np.concatenate([b.column(0).to_numpy() for b in batches])
    np.testing.assert_array_equal(got, _grid(72, 4, 3).data_vars["u10"].values().ravel())


def test_stream_reader_keeps_one_block_per_partition(tmp_path):
    from pyspark.sql import types as T

    from xarray_sql_spark.sources.grid_source import GridPartition, GridStreamReader

    store = write_zarr(_grid(72, 4, 3), str(tmp_path / "s.zarr"), chunks={"time": 8})
    payload = make_payload(store=store, chunks={"time": 8})
    payload["cores"] = 2
    schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in payload["arrow_schema"].names]
    )
    parts = GridStreamReader(payload, schema).partitions({"offset": 0}, {"offset": 72})
    assert [type(p) for p in parts] == [GridPartition] * 9
