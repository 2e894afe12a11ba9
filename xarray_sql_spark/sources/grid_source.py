"""PySpark Python Data Source exposing a Dataset as a lazy, partition-pruned,
column-aware SQL table — the Spark-native re-expression of the reference's
DataFusion TableProvider (reference reader.py:192-337 + src/lib.rs:919-1267).

Design mapping (SURVEY.md §2A):
- A1 scan: one InputPartition per chunk-grid block; ``read()`` yields Arrow
  RecordBatches (Arrow path: no row-by-row Python serialization).
- A2 pruning: ``pushFilters`` receives Catalyst's convertible predicates,
  prunes partitions by per-dim bounds, and returns ALL filters unhandled so
  Spark re-applies them row-level — exactly the reference's Inexact contract
  (src/lib.rs:548-565). Requires spark.sql.python.filterPushdown.enabled.
- A3 column pruning: ``read()`` materializes only the data variables present
  in the schema Spark hands the reader; store-backed datasets mmap just
  those arrays' block bytes (the Zarr-selective-read equivalent,
  src/lib.rs:597-652).
- A7 bounds: chunked-dim bounds per block + static bounds for unchunked dims
  hoisted and computed once (reference reader.py:306-335).
- Laziness: building the reader/partitions touches only coordinate arrays;
  data-variable bytes are first read inside executor ``read()`` calls
  (reference property: tests/test_reader.py:71-305).
- Task payload: pyspark pickles the data source and reader into every
  task. Both pickle without planning state or grid data, and an in-memory
  registration's partition carries only its own block (a numpy view at
  planning; the pickle copies just the block), so a task's payload is its
  block plus O(1). ``zipguard`` removes the other fixed per-call cost.

Observability: pass ``read_log_dir`` to record one JSON file per partition
read with the block slices + materialized columns — the cross-process
equivalent of the reference's ``_iteration_callback`` test hook
(reference reader.py:199-201).
"""

from __future__ import annotations

import json
import os
import pickle
import uuid
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from xarray_sql_spark import chunks as chunklib
from xarray_sql_spark import pivot
from xarray_sql_spark.bounds import block_may_match, dim_bounds
from xarray_sql_spark.dataset import Dataset
from xarray_sql_spark.sources import zipguard

zipguard.install()

FORMAT_NAME = "xgrid"


class GridPartition(InputPartition):
    def __init__(
        self, index: int, block: dict[str, tuple[int, int]], arrays: dict | None = None
    ):
        self.index = index
        self.block = block  # dim -> (start, stop)
        # In-memory registrations: var -> this block's data (a numpy view,
        # or a lazy variable read inside the task). None: read the store.
        self.arrays = arrays


def _grid_coords(ds: Dataset, dims) -> dict[str, "np.ndarray"]:
    """Coordinate arrays per dim, synthesizing 0..n-1 for implicit
    (coordless) dims — store-backed re-opens must mirror make_payload's
    inline-path synthesis or reader construction KeyErrors."""
    out = {}
    for d in dims:
        c = ds.coords.get(d)
        out[d] = np.asarray(c) if c is not None else np.arange(ds.sizes[d], dtype=np.int64)
    return out


def _spark_type_for(arrow_type: pa.DataType):
    from pyspark.sql import types as T

    if pa.types.is_timestamp(arrow_type):
        return T.TimestampNTZType()
    if pa.types.is_duration(arrow_type):
        # timedelta64 axes/vars (forecast lead time etc.): Spark's Arrow
        # bridge pairs duration(us) with DayTimeIntervalType
        return T.DayTimeIntervalType()
    mapping = {
        pa.float16(): T.FloatType(),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        pa.uint32(): T.LongType(),
        pa.uint64(): T.LongType(),
        pa.bool_(): T.BooleanType(),
        pa.string(): T.StringType(),
    }
    if arrow_type in mapping:
        return mapping[arrow_type]
    raise TypeError(f"unsupported arrow type {arrow_type}")


def spark_schema(arrow_schema: pa.Schema) -> StructType:
    from pyspark.sql import types as T

    fields = []
    for f in arrow_schema:
        meta = (
            {k.decode(): v.decode() for k, v in f.metadata.items()} if f.metadata else None
        )
        fields.append(T.StructField(f.name, _spark_type_for(f.type), f.nullable, metadata=meta))
    return StructType(fields)


class GridDataSource(DataSource):
    """``spark.read.format("xgrid").option("payload", path)``.

    ``payload`` is a driver-written pickle holding either an inline Dataset
    or a store path, plus the chunk spec — Spark options are strings, so the
    Python-object handoff goes through a file in the Spark local dir.
    """

    def __init__(self, options):
        super().__init__(options)
        self._payload_path = options.get("payload")
        if not self._payload_path:
            raise ValueError("xgrid requires .option('payload', <path to payload pickle>)")
        self._payload = None

    def __getstate__(self):
        # pyspark's read closure captures the data source as well as the
        # reader: ship the payload path, never the loaded payload (an
        # in-memory registration's whole grid).
        return {**self.__dict__, "_payload": None}

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _load(self):
        if self._payload is None:
            with open(self._payload_path, "rb") as f:
                self._payload = pickle.load(f)
        return self._payload

    def schema(self) -> StructType:
        p = self._load()
        return spark_schema(p["arrow_schema"])

    def reader(self, schema: StructType) -> "GridReader":
        return GridReader(self._load(), schema)

    def streamReader(self, schema: StructType) -> "GridStreamReader":
        return GridStreamReader(self._load(), schema)


class GridReader(DataSourceReader):
    def __init__(self, payload: dict, schema: StructType):
        self.store_path: str | None = payload.get("store")
        self.dataset: Dataset | None = payload.get("dataset")
        self.batch_size: int = payload.get("batch_size", pivot.DEFAULT_BATCH_SIZE)
        self.read_log_dir: str | None = payload.get("read_log_dir")
        self.dims: tuple[str, ...] = tuple(payload["dims"])
        self.arrow_schema: pa.Schema = payload["arrow_schema"]
        # Full dims+vars schema used for pivot synthesis even when the table
        # schema is projection-pruned (some dims may be absent from it).
        self.pivot_schema: pa.Schema = payload.get("pivot_schema", payload["arrow_schema"])
        # The schema Spark hands us here is the (possibly pruned) read
        # schema; intersecting with var_names yields the columns to
        # materialize (A3).
        self.read_columns = [f.name for f in schema.fields]
        self.read_vars = [v for v in payload["var_names"] if v in self.read_columns]
        # String-dim pruning is sound only under binary collation; the
        # registration layer captures the session default (bounds.py doc)
        self.prune_strings: bool = bool(payload.get("binary_collation", True))
        self._filters: list[Filter] = []
        # Driver-side, coordinate-only work: block grid + bounds (A6/A7).
        ds = self.dataset if self.dataset is not None else Dataset.open_store(self.store_path)
        sizes = ds.sizes
        chunks = payload.get("chunks")
        self.coords = _grid_coords(ds, self.dims)
        chunked_dims = {d: c for d, c in (chunks or {}).items() if d in sizes and c < sizes[d]}
        static_bounds = dim_bounds(
            self.coords, {d: slice(0, sizes[d]) for d in self.dims if d not in chunked_dims}
        )
        self._blocks = list(chunklib.block_slices({d: sizes[d] for d in self.dims}, chunks))
        # Per-block bounds over CHUNKED dims only — the static (unchunked)
        # bounds are computed once above; recomputing them per block would
        # make reader construction O(#blocks x unchunked dim length).
        self._bounds = [
            {
                **static_bounds,
                **dim_bounds(self.coords, {d: sl for d, sl in b.items() if d in chunked_dims}),
            }
            for b in self._blocks
        ]

    def __getstate__(self):
        # pyspark pickles the reader into the planner's answer and every
        # task: leave out the planning state and the in-memory grid (each
        # partition carries its own block), so the payload is O(1) in the
        # grid's data size.
        planner_only = ("_blocks", "_bounds", "_filters")
        state = {k: v for k, v in self.__dict__.items() if k not in planner_only}
        state["dataset"] = None
        return state

    # -- pruning (A2) ------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._filters = list(filters)
        # Return everything: Catalyst keeps a row-level Filter above the
        # scan (the reference's Inexact semantics, src/lib.rs:548-565).
        return iter(filters)

    def partitions(self) -> list[GridPartition]:
        parts = []
        for i, (block, bounds) in enumerate(zip(self._blocks, self._bounds)):
            if block_may_match(bounds, self._filters, self.prune_strings):
                parts.append(
                    GridPartition(
                        i, {d: (s.start, s.stop) for d, s in block.items()}, self._inline(block)
                    )
                )
        if not parts:
            # Spark requires >=1 partition; emit an empty sentinel block.
            parts = [GridPartition(-1, {d: (0, 0) for d in self.dims})]
        return parts

    def _inline(self, block: dict) -> dict | None:
        """An in-memory registration's data over ``block``: numpy data as
        views (pickling copies just the block), lazy variables as they are."""
        if self.dataset is None:
            return None
        data_vars = self.dataset.data_vars
        return {
            n: _var_block(data_vars[n], block) if isinstance(data_vars[n].data, np.ndarray)
            else data_vars[n]
            for n in self.read_vars
        }

    # -- execution (A1/A3/A5) ---------------------------------------------
    def read(self, partition: GridPartition) -> Iterator[pa.RecordBatch]:
        block = {d: slice(a, b) for d, (a, b) in partition.block.items()}
        if self.read_log_dir:
            rec = {
                "partition": partition.index,
                "block": {d: [s.start, s.stop] for d, s in block.items()},
                "columns": list(self.read_columns),
                "vars_read": self.read_vars,
            }
            fname = f"read_{partition.index}_{uuid.uuid4().hex}.json"
            with open(os.path.join(self.read_log_dir, fname), "w") as f:
                json.dump(rec, f)
        if partition.index < 0:
            return iter(())
        source = partition.arrays
        if source is None:
            source = Dataset.open_store(self.store_path).data_vars
        arrays = {
            n: source[n] if isinstance(source[n], np.ndarray) else _var_block(source[n], block)
            for n in self.read_vars
        }
        return _block_batches(
            arrays,
            self.coords,
            self.dims,
            self.read_columns,
            self.arrow_schema,
            self.pivot_schema,
            block,
            self.batch_size,
        )


def _var_block(var, block: dict) -> np.ndarray:
    """``var``'s data over ``block`` (dim -> slice)."""
    return var.read_block(tuple(block[d] for d in var.dims))


def _block_batches(
    block_arrays: dict,
    coords: dict,
    dims: tuple,
    read_columns: list,
    arrow_schema: pa.Schema,
    pivot_schema: pa.Schema,
    block: dict,
    batch_size: int,
) -> Iterator[pa.RecordBatch]:
    """One partition block's arrays (var -> ndarray, in output order) ->
    Arrow batches, shared by the batch and streaming readers so
    projection/reorder compensation stays in sync.

    Pivot synthesis needs every dim; when Spark's read schema prunes or
    reorders columns, pivot over the full dims+vars schema and project
    each batch down to the requested column order.
    """
    wanted_vars = list(block_arrays)
    out_schema = pa.schema(
        [arrow_schema.field(n) for n in read_columns if n in arrow_schema.names]
    )
    block_coords = {d: coords[d][block[d]] for d in dims}
    out_dims = tuple(d for d in dims if d in read_columns)
    if set(out_dims) != set(dims) or list(out_schema.names) != list(dims) + wanted_vars:
        full_schema = pa.schema(
            [pivot_schema.field(d) for d in dims]
            + [pivot_schema.field(v) for v in wanted_vars]
        )
        for batch in pivot.iter_record_batches(
            dims, block_coords, block_arrays, full_schema, batch_size
        ):
            arrays = [batch.column(batch.schema.get_field_index(n)) for n in out_schema.names]
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)
    else:
        yield from pivot.iter_record_batches(
            dims, block_coords, block_arrays, out_schema, batch_size
        )


def make_payload(
    *,
    dataset: Dataset | None = None,
    store: str | None = None,
    chunks: dict | None = None,
    batch_size: int = pivot.DEFAULT_BATCH_SIZE,
    read_log_dir: str | None = None,
    var_names: list[str] | None = None,
    columns: list[str] | None = None,
) -> dict:
    """Build the payload dict registered through the option file.

    ``columns`` narrows the table schema itself (projection pushdown to
    storage, A3): Spark 4.1 does not column-prune Python data sources, so
    XarraySession analyzes each query's plan and re-registers pruned scans —
    the data variables dropped here are never read from the store, and their
    bytes never cross the Arrow boundary.
    """
    ds = dataset if dataset is not None else Dataset.open_store(store)
    if var_names is None:
        var_names = list(ds.data_vars)
    sub = ds.select_vars(var_names)
    dims = pivot.canonical_dims(sub.data_vars)
    for d in dims:
        if d not in sub.coords:
            # Implicit positional coordinate (reference: a dim with no
            # coordinate still pivots, using 0..n-1).
            sub.coords[d] = np.arange(sub.sizes[d], dtype=np.int64)
    full_schema = pivot.infer_schema(
        dims, sub.coords, sub.data_vars, coord_meta=getattr(ds, "coord_attrs", None)
    )
    if columns is not None:
        keep = [n for n in full_schema.names if n in set(columns)]
        if not keep:
            keep = [dims[0]]  # COUNT(*)-style: one cheap dim column
        schema = pa.schema([full_schema.field(n) for n in keep])
        kept_vars = [v for v in var_names if v in set(keep)]
        if not store:
            sub = sub.select_vars(kept_vars)
        var_names = kept_vars
        full_schema = pa.schema(
            [full_schema.field(d) for d in dims] + [full_schema.field(v) for v in kept_vars]
        )
    else:
        schema = full_schema
    return {
        "pivot_schema": full_schema,
        "dataset": None if store else sub,
        "store": store,
        "chunks": chunks,
        "batch_size": batch_size,
        "read_log_dir": read_log_dir,
        "dims": dims,
        "var_names": var_names,
        "arrow_schema": schema,
    }


# --- streaming: micro-batches over a growing store (append dim) -------------
class GridStreamReader(DataSourceStreamReader):
    """Structured-Streaming reader over a store that GROWS along one dim.

    Zarr appends commit by updating the shape in the array metadata AFTER
    the new chunk files land, so the metadata shape is the stream's
    high-water mark: ``latestOffset`` re-reads it (one JSON read), each
    micro-batch covers the new ``[start, end)`` slab of the append dim,
    and executors read only the chunk files their block overlaps — the
    same selective-read contract as the batch scan. Offsets live in the
    checkpoint, so recovery replays a slab idempotently (chunk reads are
    pure functions of the block bounds).

    Scale: one InputPartition per chunk block of the new slab; a
    1000-executor cluster ingests a day's append of an ERA5-shaped store
    as (time_chunks x lat_chunks x lon_chunks) parallel tasks. The driver
    touches metadata and coordinates only.
    """

    def __init__(self, payload: dict, schema: StructType):
        if not payload.get("store"):
            raise ValueError(
                "streaming grid reads require a store-backed registration "
                "(an inline Dataset cannot grow)"
            )
        self.store_path: str = payload["store"]
        self.chunks: dict | None = payload.get("chunks")
        self.batch_size: int = payload.get("batch_size", pivot.DEFAULT_BATCH_SIZE)
        self.dims: tuple[str, ...] = tuple(payload["dims"])
        self.arrow_schema: pa.Schema = payload["arrow_schema"]
        self.pivot_schema: pa.Schema = payload.get("pivot_schema", payload["arrow_schema"])
        self.read_columns = [f.name for f in schema.fields]
        self.read_vars = [v for v in payload["var_names"] if v in self.read_columns]
        self.append_dim: str = payload.get("append_dim") or (
            "time" if "time" in self.dims else self.dims[0]
        )
        if self.append_dim not in self.dims:
            raise ValueError(f"append_dim {self.append_dim!r} is not a dim of the table")
        self._start_at = payload.get("stream_start", "earliest")
        # Non-append dims never grow: capture their sizes once at stream
        # start so per-trigger planning doesn't re-open the store.
        self._static_sizes = {
            d: n
            for d, n in Dataset.open_store(self.store_path).sizes.items()
            if d != self.append_dim
        }

    def _current_size(self) -> int:
        """High-water mark of the append dim — ONE metadata JSON read.

        The append commit protocol (chunks first, shape last) makes the
        dim array's declared shape the safe watermark; falling back to a
        full store open only for store layouts without per-array JSON."""
        for rel in (
            os.path.join(self.append_dim, ".zarray"),  # v2
            os.path.join(self.append_dim, "zarr.json"),  # v3
        ):
            p = os.path.join(self.store_path, rel)
            if os.path.isfile(p):
                with open(p) as f:
                    return int(json.load(f)["shape"][0])
        return Dataset.open_store(self.store_path).sizes[self.append_dim]

    def initialOffset(self) -> dict:
        if self._start_at == "latest":
            return {"offset": self._current_size()}
        return {"offset": 0}

    def latestOffset(self) -> dict:
        return {"offset": self._current_size()}

    def partitions(self, start: dict, end: dict) -> list[GridPartition]:
        lo, hi = int(start["offset"]), int(end["offset"])
        if hi <= lo:
            return [GridPartition(-1, {d: (0, 0) for d in self.dims})]
        # Split the slab on the store's ABSOLUTE chunk grid: a block shifted
        # relative to lo would straddle two physical chunk files and double
        # every executor's decompression work.
        cs = (self.chunks or {}).get(self.append_dim)
        spans: list[tuple[int, int]] = []
        a = lo
        while a < hi:
            b = min(hi, (a // cs + 1) * cs) if cs else hi
            spans.append((a, b))
            a = b
        parts = []
        i = 0
        for span in spans:
            if self._static_sizes:
                sub_blocks = chunklib.block_slices(dict(self._static_sizes), self.chunks)
            else:
                sub_blocks = [{}]
            for block in sub_blocks:
                full = {d: (s.start, s.stop) for d, s in block.items()}
                full[self.append_dim] = span
                parts.append(GridPartition(i, full))
                i += 1
        return parts

    def read(self, partition: GridPartition) -> Iterator[pa.RecordBatch]:
        if partition.index < 0:
            return
        block = {d: slice(a, b) for d, (a, b) in partition.block.items()}
        ds = Dataset.open_store(self.store_path)
        yield from _block_batches(
            {n: _var_block(ds.data_vars[n], block) for n in self.read_vars},
            _grid_coords(ds, self.dims),
            self.dims,
            self.read_columns,
            self.arrow_schema,
            self.pivot_schema,
            block,
            self.batch_size,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint; the store is immutable history

    def stop(self) -> None:
        pass


def read_grid_stream(
    spark,
    store: str,
    *,
    chunks: dict | None = None,
    append_dim: str | None = None,
    batch_size: int = pivot.DEFAULT_BATCH_SIZE,
    start: str = "earliest",
    payload_dir: str | None = None,
):
    """``spark.readStream`` over a growing Zarr/grid store.

    Returns a streaming DataFrame with the same schema as the batch scan;
    compose with watermarks / windowed aggs downstream. ``start="latest"``
    skips history. The payload pickle lands in ``payload_dir`` (defaults
    to the Spark local temp dir)."""
    import tempfile

    payload = make_payload(store=store, chunks=chunks, batch_size=batch_size)
    payload["append_dim"] = append_dim
    payload["stream_start"] = start
    path = os.path.join(
        payload_dir or tempfile.gettempdir(), f"xgrid_stream_{uuid.uuid4().hex}.pkl"
    )
    with open(path, "wb") as f:
        pickle.dump(payload, f)
    try:
        spark.dataSource.register(GridDataSource)
    except Exception:
        pass  # already registered
    return spark.readStream.format(FORMAT_NAME).option("payload", path).load()
