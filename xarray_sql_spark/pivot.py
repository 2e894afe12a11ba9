"""Forward pivot: an N-D block -> Arrow RecordBatches, one row per grid cell.

Columns are dimension coordinates first (in the data variables' dim order),
then data variables (reference df.py:215-368, schema at df.py:371-411).

Key properties preserved from the reference:
- batches of at most ``batch_size`` rows, so memory is bounded regardless of
  block size (reference df.py:283-368);
- per-batch coordinate synthesis by strided index arithmetic
  ``(i // stride[k]) % shape[k]`` — no full-block coordinate broadcast is
  ever allocated (reference df.py:331-357);
- float NaN -> Arrow null at batch build so SQL aggregates skip missing
  cells (``from_pandas=True``; reference df.py:271-273, asserted by
  tests/test_sql.py:155-195).
"""

from __future__ import annotations

from typing import Iterator, Mapping

import numpy as np
import pyarrow as pa

DEFAULT_BATCH_SIZE = 65_536


def arrow_type_for(dtype: np.dtype) -> pa.DataType:
    dtype = np.dtype(dtype)
    if dtype.kind == "M":  # datetime64[*] -> µs timestamps (Spark-native)
        return pa.timestamp("us")
    if dtype.kind == "m":
        # timedelta64[*] -> µs durations; Spark's Arrow bridge maps
        # duration(us) <-> DayTimeIntervalType, so forecast lead-time
        # ("step") axes register as real interval columns. NaT -> null.
        return pa.duration("us")
    if dtype.kind in ("U", "S", "O"):
        return pa.string()
    if dtype.kind == "b":
        return pa.bool_()
    if dtype.kind == "u":
        # Spark's Arrow bridge accepts signed ints only (UNSUPPORTED_ARROWTYPE
        # for uint batches): widen losslessly; uint64 narrows to int64 and
        # overflow raises at batch build rather than wrapping.
        return {1: pa.int16(), 2: pa.int32(), 4: pa.int64(), 8: pa.int64()}[dtype.itemsize]
    if dtype == np.float16:
        return pa.float32()  # no half-float in Spark's Arrow bridge
    return pa.from_numpy_dtype(dtype)


def canonical_dims(data_vars: Mapping[str, "object"]) -> tuple[str, ...]:
    """All data vars in one table must share a single dims tuple
    (reference reader.py:94-99)."""
    dims_set = {tuple(v.dims) for v in data_vars.values()}
    if len(dims_set) != 1:
        raise ValueError(
            f"data variables span multiple dim groups {sorted(dims_set)}; "
            "register them as separate tables (XarraySession.from_dataset does this)"
        )
    return next(iter(dims_set))


def _coord_nullable(arr: np.ndarray) -> bool:
    """Dim coords are non-nullable UNLESS the axis actually carries missing
    values (NaT/NaN/None), which pivot to Arrow nulls — declaring those
    fields non-nullable makes Spark's vectorized reader throw
    ``Value at index is null`` at scan time."""
    if arr.dtype.kind in "Mm":  # datetime64 NaT AND timedelta64 NaT
        return bool(np.isnat(arr).any())
    if arr.dtype.kind == "f":
        return bool(np.isnan(arr).any())
    if arr.dtype.kind == "O":
        return any(x is None for x in arr)
    return False


def infer_schema(
    dims: tuple[str, ...],
    coords: Mapping[str, np.ndarray],
    data_vars,
    coord_meta: Mapping[str, Mapping[str, str]] | None = None,
) -> pa.Schema:
    """``coord_meta`` attaches field metadata (e.g. ``xarray:units`` /
    ``xarray:calendar`` for non-Gregorian CF offsets, reference
    cftime.py:196-209) so the encoding survives into the Spark schema."""
    fields = []
    for d in dims:
        meta = None
        if coord_meta and d in coord_meta:
            meta = {str(k): str(v) for k, v in coord_meta[d].items()}
        fields.append(
            pa.field(
                d,
                arrow_type_for(coords[d].dtype),
                nullable=_coord_nullable(np.asarray(coords[d])),
                metadata=meta,
            )
        )
    for name, var in data_vars.items():
        fields.append(pa.field(name, arrow_type_for(var.dtype), nullable=True))
    return pa.schema(fields)


def _to_arrow_array(values: np.ndarray, typ: pa.DataType) -> pa.Array:
    if values.dtype.kind == "M":
        values = values.astype("datetime64[us]")
    if values.dtype.kind == "m":
        values = values.astype("timedelta64[us]")  # NaT -> arrow null
    if values.dtype.kind in ("U", "S"):
        values = values.astype(object)
    if values.dtype.kind == "f":
        # from_pandas maps NaN -> null (the load-bearing NaN convention).
        return pa.array(values, type=typ, from_pandas=True)
    return pa.array(values, type=typ)


def iter_record_batches(
    dims: tuple[str, ...],
    block_coords: Mapping[str, np.ndarray],
    block_arrays: Mapping[str, np.ndarray],
    schema: pa.Schema,
    batch_size: int = DEFAULT_BATCH_SIZE,
) -> Iterator[pa.RecordBatch]:
    """Pivot one block (already sliced to the partition) into row batches.

    ``block_coords``: 1-D coordinate slices per dim; ``block_arrays``: the
    N-D data arrays, C-ordered on ``dims``. ``schema`` picks the output
    columns and their order: a dim column is synthesized only when the
    schema names it, so a projection that drops dims pays nothing for them.
    """
    shape = tuple(len(block_coords[d]) for d in dims)
    total = int(np.prod(shape)) if shape else 0
    if total == 0:
        return
    # Row-major strides in units of rows.
    strides = {}
    acc = 1
    for d in reversed(dims):
        strides[d] = acc
        acc *= len(block_coords[d])
    flat = {name: np.asarray(arr).reshape(-1) for name, arr in block_arrays.items()}

    for start in range(0, total, batch_size):
        stop = min(start + batch_size, total)
        idx = np.arange(start, stop, dtype=np.int64)
        columns = []
        for field in schema:
            if field.name in strides:
                d = field.name
                pos = (idx // strides[d]) % len(block_coords[d])
                columns.append(_to_arrow_array(block_coords[d][pos], field.type))
            else:
                columns.append(_to_arrow_array(flat[field.name][start:stop], field.type))
        yield pa.RecordBatch.from_arrays(columns, schema=schema)
