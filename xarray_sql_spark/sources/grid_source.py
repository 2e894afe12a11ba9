"""PySpark Python Data Source exposing a Dataset as a lazy, partition-pruned,
column-aware SQL table — the Spark-native re-expression of the reference's
DataFusion TableProvider (reference reader.py:192-337 + src/lib.rs:919-1267).

Design mapping (SURVEY.md §2A):
- A1 scan: the chunk-grid blocks that survive pruning are packed into
  contiguous, balanced InputPartitions by Spark's own FilePartition rule
  over the bytes of the cells they keep: ``n = min(kept blocks,
  ceil(kept / min(maxPartitionBytes, max(openCostInBytes, kept //
  cores))))`` (``session.max_split_bytes``; the session writes ``cores``
  and ``max_partition_bytes`` into the payload, the open cost is Spark's
  default 4 MiB; a payload without a core count keeps one block per
  partition). A scan over a few kept cells runs as one task; a full scan
  as about one per core. ``read()`` yields Arrow
  RecordBatches block by block (Arrow path: no row-by-row Python
  serialization), opening a store once per partition and reading only the
  data-variable blocks: each partition carries its own kept cells'
  coordinates.
- Partial aggregation: a read with an ``aggregate`` option (a pickled
  aggregate dict written by ``XarraySession`` for a GROUP BY it can
  answer, ``sources/partials.py``) turns each block into one row per group
  it holds — keys, float64 sums of expressions, non-null counts, min/max —
  and Catalyst merges the partials; only the cells that pass the filter's
  coordinate masks are reduced, and blocks without one are never read.
  Under a dense lookup join the aggregate also carries the small side's
  values, gathered per cell.
- A2 pushdown: ``pushFilters`` turns Catalyst's convertible predicates on
  dims into exact coordinate masks (``bounds.dim_masks``, the evaluator the
  partial-aggregate scans use too); ``partitions()`` keeps the blocks
  holding a cell that passes them and ``read()`` emits only those cells.
  The filters the masks mirror are Exact: Catalyst drops them from the
  plan. Only the rest (data variables, NaN coordinates, type mismatches,
  ...) go back unhandled and are re-applied row-level — the reference's
  Inexact contract (src/lib.rs:548-565). Requires
  spark.sql.python.filterPushdown.enabled.
- A3 column pruning: every scan of a registered table reads its one
  payload through the schema it needs (the reference's
  ``factory(projection_names)``, src/lib.rs:597-652); ``read()``
  materializes only the data variables in that schema and pivots only the
  dim columns it names, so a store-backed scan reads just those arrays.
- A7: the reference's per-block min/max bounds (reader.py:306-335) are
  not built; masks over whole dims replace them, so planning holds one
  boolean array per filtered dim, not one bounds dict per block.
- Laziness: building the reader/partitions touches only coordinate arrays;
  data-variable bytes are first read inside executor ``read()`` calls
  (reference property: tests/test_reader.py:71-305).
- Task payload: pyspark pickles the data source and reader into every
  task. Both pickle without planning state, grid data or whole-dim arrays
  (coordinates, filter masks, lookup offsets); a partition carries only
  its own kept cells' share of them, and an in-memory registration's
  partition its own kept cells of data (a numpy view or copy at planning;
  the pickle copies just those cells), so a task's payload is its cells
  plus O(1) — plus, under a lookup join, the small side's dense values.
  ``zipguard`` removes the other fixed per-call cost.

Observability: pass ``read_log_dir`` to record one JSON file per block
read (its own block index, also inside a packed partition) with the block
slices + materialized columns — the cross-process
equivalent of the reference's ``_iteration_callback`` test hook
(reference reader.py:199-201).
"""

from __future__ import annotations

import datetime as _dt
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
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from xarray_sql_spark import chunks as chunklib
from xarray_sql_spark import pivot
from xarray_sql_spark.bounds import dim_masks
from xarray_sql_spark.dataset import Dataset
from xarray_sql_spark.session import _MAX_PARTITION_BYTES, _OPEN_COST_BYTES, max_split_bytes
from xarray_sql_spark.sources import partials, zipguard

zipguard.install()

FORMAT_NAME = "xgrid"


class GridPartition(InputPartition):
    def __init__(
        self,
        index: int,
        block: dict[str, tuple[int, int]],
        arrays: dict | None = None,
        coords: dict | None = None,
        cells: dict | None = None,
        offsets: dict | None = None,
    ):
        self.index = index
        self.block = block  # dim -> (start, stop)
        # In-memory registrations: var -> this block's kept cells (a numpy
        # view or copy), or a lazy variable read inside the task. None:
        # read the store.
        self.arrays = arrays
        # dim -> the kept cells' coordinates (batch scans), the selection
        # within the block of each dim the filter narrows (_kept_cells), and
        # a lookup join's key offsets of the kept cells
        self.coords = coords
        self.cells = cells or {}
        self.offsets = offsets


class PackedPartition(InputPartition):
    """A contiguous run of chunk blocks read by one task."""

    def __init__(self, index: int, blocks: list[GridPartition]):
        self.index = index
        self.blocks = blocks


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
    Python-object handoff goes through a file. An ``aggregate`` option names
    a second pickle, an aggregate dict (``sources/partials.py``) that makes
    the read a partial aggregation of the same payload.
    """

    def __init__(self, options):
        super().__init__(options)
        self._payload_path = options.get("payload")
        if not self._payload_path:
            raise ValueError("xgrid requires .option('payload', <path to payload pickle>)")
        self._aggregate_path = options.get("aggregate")
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
            if self._aggregate_path:
                with open(self._aggregate_path, "rb") as f:
                    self._payload["aggregate"] = pickle.load(f)
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
        # The schema Spark hands us here is the (possibly pruned) read
        # schema; intersecting with var_names yields the columns to
        # materialize (A3).
        self.read_columns = [f.name for f in schema.fields]
        # Partial aggregation (sources/partials.py): the schema holds the
        # partial columns; the aggregate names the variables to read.
        self.aggregate: dict | None = payload.get("aggregate")
        if self.aggregate:
            self.arrow_schema = partials.partial_schema(self.arrow_schema, self.aggregate)
            self.read_vars = partials.read_vars(self.aggregate)
        else:
            self.read_vars = [v for v in payload["var_names"] if v in self.read_columns]
        # String-dim pruning is sound only under binary collation; the
        # registration layer captures the session default (bounds.py doc)
        self.binary_collation: bool = bool(payload.get("binary_collation", True))
        # Packing inputs (module doc, A1); None keeps one block per task.
        # The defaults are Spark's.
        self.cores: int | None = payload.get("cores")
        self.max_partition_bytes: int = payload.get("max_partition_bytes", _MAX_PARTITION_BYTES)
        self.open_cost_bytes: int = payload.get("open_cost_bytes", _OPEN_COST_BYTES)
        # dim -> mask of the pushed filters (pushFilters)
        self._masks: dict[str, np.ndarray] = {}
        # Driver-side, coordinate-only work: the block grid (A6).
        ds = self.dataset if self.dataset is not None else Dataset.open_store(self.store_path)
        sizes = ds.sizes
        self.coords = _grid_coords(ds, self.dims)
        # bytes per cell read: its variables, else (a dims-only scan) its
        # emitted coordinates, so packing never sizes a scan to 0 bytes
        self._cell_bytes = (
            sum(np.dtype(ds.data_vars[v].dtype).itemsize for v in self.read_vars)
            or sum(self.coords[d].dtype.itemsize for d in self.dims if d in self.read_columns)
            or 1
        )
        self._blocks = list(
            chunklib.block_slices({d: sizes[d] for d in self.dims}, payload.get("chunks"))
        )

    def __getstate__(self):
        # pyspark pickles the reader into the planner's answer and every
        # task: leave out the planning state, the in-memory grid and every
        # whole-dim array (each partition carries its own kept cells' data,
        # coordinates and lookup offsets), so the payload is O(1) in the
        # grid's size.
        planner_only = ("_blocks", "_masks", "_cell_bytes", "coords")
        state = {k: v for k, v in self.__dict__.items() if k not in planner_only}
        state["dataset"] = None
        if self.aggregate:
            state["aggregate"] = partials.without_axes(self.aggregate)
        return state

    # -- pruning (A2) ------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        preds = [_filter_pred(f) for f in filters]
        self._masks, mirrored = dim_masks(
            self.coords, [p for p in preds if p is not None], self.binary_collation
        )
        # The mirrored conjuncts are answered here (read() emits only the
        # cells that pass them); Catalyst re-applies the rest row-level.
        mirrored = iter(mirrored)
        return iter([f for f, p in zip(filters, preds) if p is None or not next(mirrored)])

    def partitions(self) -> list[GridPartition] | list[PackedPartition]:
        masks = self.aggregate["masks"] if self.aggregate else self._masks
        lookup = (self.aggregate or {}).get("lookup")
        parts = []
        kept_cells = 0
        for i, block in enumerate(self._blocks):
            found = _kept_cells(masks, block)
            if found is None:
                continue
            cells, count = found
            parts.append(
                GridPartition(
                    i,
                    {d: (s.start, s.stop) for d, s in block.items()},
                    self._inline(block, cells),
                    {d: _cut(self.coords[d][block[d]], (d,), cells) for d in self.dims},
                    cells,
                    {d: _cut(o[block[d]], (d,), cells) for d, o in lookup["offsets"].items()}
                    if lookup else None,
                )
            )
            kept_cells += count
        if not parts:
            # Spark requires >=1 partition; emit an empty sentinel block.
            return [GridPartition(-1, {d: (0, 0) for d in self.dims})]
        if self.cores is None:
            return parts
        kept = kept_cells * self._cell_bytes  # bytes
        split = max_split_bytes(kept, self.cores, self.max_partition_bytes, self.open_cost_bytes)
        n = max(1, min(len(parts), -(-kept // max(split, 1))))
        if n == len(parts):
            return parts
        bounds = np.linspace(0, len(parts), n + 1).round().astype(int)
        return [PackedPartition(j, parts[a:b]) for j, (a, b) in enumerate(zip(bounds, bounds[1:]))]

    def _inline(self, block: dict, cells: dict) -> dict | None:
        """An in-memory registration's data over ``block``'s kept ``cells``:
        numpy data cut at planning (pickling copies just those cells), lazy
        variables as they are."""
        if self.dataset is None:
            return None
        data_vars = self.dataset.data_vars
        return {
            n: _cut(_var_block(data_vars[n], block), self.dims, cells)
            if isinstance(data_vars[n].data, np.ndarray) else data_vars[n]
            for n in self.read_vars
        }

    # -- execution (A1/A3/A5) ---------------------------------------------
    def read(self, partition) -> Iterator[pa.RecordBatch]:
        blocks = partition.blocks if isinstance(partition, PackedPartition) else [partition]
        store_vars = None  # opened once per task, on first use
        for part in blocks:
            block = {d: slice(a, b) for d, (a, b) in part.block.items()}
            if self.read_log_dir:
                self._log_read(part.index, block)
            if part.index < 0:
                continue
            source = part.arrays
            if source is None:
                if store_vars is None:
                    store_vars = Dataset.open_store(self.store_path, load_coords=False).data_vars
                source = store_vars
            arrays = {
                n: source[n] if isinstance(source[n], np.ndarray)
                else _cut(_var_block(source[n], block), self.dims, part.cells)
                for n in self.read_vars
            }
            if self.aggregate:
                batch = partials.block_partials(
                    arrays, part.coords, self.dims, self.aggregate, part.offsets,
                    self.arrow_schema,
                )
                if batch is not None:
                    yield batch
            else:
                yield from _block_batches(
                    arrays, part.coords, self.dims, self.read_columns, self.arrow_schema,
                    self.batch_size,
                )

    def _log_read(self, index: int, block: dict) -> None:
        rec = {
            "partition": index,
            "block": {d: [s.start, s.stop] for d, s in block.items()},
            "columns": list(self.read_columns),
            "vars_read": self.read_vars,
        }
        fname = f"read_{index}_{uuid.uuid4().hex}.json"
        with open(os.path.join(self.read_log_dir, fname), "w") as f:
            json.dump(rec, f)


_FILTER_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
}
_EPOCH = _dt.datetime(1970, 1, 1)
_EPOCH_UTC = _EPOCH.replace(tzinfo=_dt.timezone.utc)
_US = _dt.timedelta(microseconds=1)


def _filter_literal(v) -> tuple | None:
    """A pushed filter value as ``(value, Spark type name)``, the literal
    form ``bounds.dim_masks`` takes, or None for a type it does not mirror
    (bool, Decimal, date, ...)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return (v, "long")
    if isinstance(v, float):
        return (v, "double")
    if isinstance(v, str):
        return (v, "string")
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            return ((v - _EPOCH) // _US, "timestamp_ntz")
        return ((v - _EPOCH_UTC) // _US, "timestamp")
    return None


def _filter_pred(f: Filter) -> tuple | None:
    """A pushed filter as a ``bounds.dim_masks`` conjunct, or None when it
    narrows nothing (Not, IsNull, EqualNullSafe, string patterns, a value
    type without a mirror)."""
    attr = getattr(f, "attribute", ())
    if len(attr) != 1:
        return None
    if isinstance(f, IsNotNull):
        return (("col", attr[0]), "notnull", ())
    op = _FILTER_OPS.get(type(f))
    if op is None:
        return None
    lits = tuple(map(_filter_literal, f.value if op == "in" else (f.value,)))
    if not lits or None in lits:
        return None
    return (("col", attr[0]), op, lits)


def _var_block(var, block: dict) -> np.ndarray:
    """``var``'s data over ``block`` (dim -> slice)."""
    return var.read_block(tuple(block[d] for d in var.dims))


def _kept_cells(masks: dict, block: dict) -> tuple[dict, int] | None:
    """``(cells, count)``: the cells of ``block`` (dim -> slice) that pass
    the filter ``masks`` (dim -> bool array over the whole dim), as the
    selection within the block of each dim the masks narrow (a slice when
    the kept run is contiguous, else an index array) and their number;
    None when no cell passes. The masks are per dim, so the kept cells
    are the product of each dim's kept positions."""
    cells, count = {}, 1
    for d, s in block.items():
        size = s.stop - s.start
        if d not in masks:
            count *= size
            continue
        idx = np.flatnonzero(masks[d][s])
        if not len(idx):
            return None
        count *= len(idx)
        if len(idx) < size:
            contiguous = idx[-1] - idx[0] + 1 == len(idx)
            cells[d] = slice(int(idx[0]), int(idx[-1]) + 1) if contiguous else idx
    return cells, count


def _cut(a: np.ndarray, dims: tuple, cells: dict) -> np.ndarray:
    """Block data ``a`` (C-ordered on ``dims``) cut to ``cells``."""
    for axis, d in enumerate(dims):
        if d in cells:
            a = a[(slice(None),) * axis + (cells[d],)]
    return a


def _block_batches(
    block_arrays: dict,
    block_coords: dict,
    dims: tuple,
    read_columns: list,
    arrow_schema: pa.Schema,
    batch_size: int,
) -> Iterator[pa.RecordBatch]:
    """One block's arrays (var -> ndarray) -> Arrow batches of the columns
    Spark's read schema asks for, in its order; shared by the batch and
    streaming readers. Every dim shapes the pivot, but only the requested
    dims become columns."""
    out_schema = pa.schema(
        [arrow_schema.field(n) for n in read_columns if n in arrow_schema.names]
    )
    return pivot.iter_record_batches(dims, block_coords, block_arrays, out_schema, batch_size)


def make_payload(
    *,
    dataset: Dataset | None = None,
    store: str | None = None,
    chunks: dict | None = None,
    batch_size: int = pivot.DEFAULT_BATCH_SIZE,
    read_log_dir: str | None = None,
    var_names: list[str] | None = None,
) -> dict:
    """Build the payload dict registered through the option file: the
    table's data (an inline Dataset or a store path), chunk spec and full
    Arrow schema. It serves every scan of the table (A3): a projection
    reads it through a narrower schema, a partial aggregation adds the
    ``aggregate`` read option (``GridDataSource``)."""
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
    schema = pivot.infer_schema(
        dims, sub.coords, sub.data_vars, coord_meta=getattr(ds, "coord_attrs", None)
    )
    return {
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
        coords = _grid_coords(ds, self.dims)
        yield from _block_batches(
            {n: _var_block(ds.data_vars[n], block) for n in self.read_vars},
            {d: coords[d][block[d]] for d in self.dims},
            self.dims,
            self.read_columns,
            self.arrow_schema,
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
