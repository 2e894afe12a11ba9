"""Leaf partial aggregation: one chunk block -> one Arrow row per group.

The grid reader's aggregate mode (``payload["aggregate"]``, written by
``XarraySession`` for an :class:`~xarray_sql_spark.plans.introspect.AggregateSpec`
it can answer) reduces each block in numpy and emits the groups the block
holds instead of its cells; Catalyst merges the partials with an ordinary
``groupBy().agg()``. This is the serving-tree split of Dremel: leaves
aggregate, the root merges.

The aggregate dict:

- ``keys``: ``[(kind, dim)]`` with ``kind`` ``"col"`` (the coordinate
  itself) or a datetime field of a datetime dim (``"hour"``,
  ``"dayofmonth"``, ``"month"``, ``"year"``, ``"dayofyear"``);
- ``stats``: ``{var: [extra stats]}``; every var gets a float64 sum and a
  non-NaN count, plus ``"min"``/``"max"`` when asked;
- ``rows``: whether to emit the cell count per group (``COUNT(*)``);
- ``masks``: ``{dim: bool array over the whole dim}``, the filter.

Semantics mirror the pivoted rows exactly: NaN cells are SQL NULL (they
add nothing to sums, counts, minima or maxima but do count as rows), and a
group's min/max is null when it holds no valid value.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from xarray_sql_spark.pivot import _to_arrow_array

_US = "datetime64[us]"
_STAT_COL = {"min": "_mn", "max": "_mx"}


def datetime_field(values: np.ndarray, field: str) -> np.ndarray:
    """Spark's ``field(ts)`` of TIMESTAMP_NTZ values, as int32. The values
    are truncated to microseconds first, as the pivot exposes them; numpy
    unit casts floor, so pre-1970 values land in the right day too."""
    t = values.astype(_US)
    day = t.astype("datetime64[D]")
    if field == "hour":
        out = (t - day) // np.timedelta64(1, "h")
    elif field == "dayofmonth":
        out = (day - t.astype("datetime64[M]")).astype(np.int64) + 1
    elif field == "month":
        out = t.astype("datetime64[M]").astype(np.int64) % 12 + 1
    elif field == "year":
        out = t.astype("datetime64[Y]").astype(np.int64) + 1970
    elif field == "dayofyear":
        out = (day - t.astype("datetime64[Y]")).astype(np.int64) + 1
    else:
        raise ValueError(f"unknown datetime field {field!r}")
    return out.astype(np.int32)


def partial_schema(pivot_schema: pa.Schema, agg: dict) -> pa.Schema:
    """Columns of the partial rows: ``_k{i}`` per key, then per var ``j``
    ``_s{j}`` (sum), ``_n{j}`` (count) and ``_mn{j}``/``_mx{j}`` when
    asked, then ``_rows``."""
    fields = [
        # keys are never null: the session declines dims with NaN/NaT values
        pa.field(
            f"_k{i}",
            pivot_schema.field(d).type if kind == "col" else pa.int32(),
            nullable=False,
        )
        for i, (kind, d) in enumerate(agg["keys"])
    ]
    for j, (_var, extra) in enumerate(agg["stats"].items()):
        fields += [pa.field(f"_s{j}", pa.float64()), pa.field(f"_n{j}", pa.int64())]
        fields += [pa.field(f"{_STAT_COL[s]}{j}", pa.float64()) for s in ("min", "max") if s in extra]
    if agg["rows"]:
        fields.append(pa.field("_rows", pa.int64()))
    return pa.schema(fields)


def block_has_cells(masks: dict, block: dict) -> bool:
    """Whether any cell of ``block`` (dim -> slice) passes the masks."""
    return all(m[block[d]].any() for d, m in masks.items())


def _groups(values: list[np.ndarray]) -> tuple[np.ndarray, list[np.ndarray]]:
    """(group code per position, key values per group) of one dim's keys.
    Codes follow ascending key order, so every code in 0..G-1 occurs."""
    if len(values) == 1:
        uniq, codes = np.unique(values[0], return_inverse=True)
        return codes.reshape(-1), [uniq]
    per = [np.unique(v, return_inverse=True)[1].reshape(-1) for v in values]
    combined = np.ravel_multi_index(per, [int(c.max()) + 1 for c in per])
    _u, first, codes = np.unique(combined, return_index=True, return_inverse=True)
    return codes.reshape(-1), [v[first] for v in values]


class _Axis:
    """How one axis reduces: to its groups (``codes``) or to one cell.
    Data is first permuted so each group is contiguous (``permute``), then
    reduced segment by segment (``reduce``)."""

    def __init__(self, codes: np.ndarray | None):
        self.order = self.starts = None
        self.identity = False
        if codes is None:
            return
        if np.any(codes[1:] < codes[:-1]):
            self.order = np.argsort(codes, kind="stable")
            codes = codes[self.order]
        self.starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
        self.identity = len(self.starts) == len(codes)

    def permute(self, a: np.ndarray, axis: int) -> np.ndarray:
        return a if self.order is None else np.take(a, self.order, axis=axis)

    def reduce(self, ufunc, a: np.ndarray, axis: int) -> np.ndarray:
        if self.starts is None:
            return ufunc.reduce(a, axis=axis, keepdims=True)
        if self.identity:
            return a
        return ufunc.reduceat(a, self.starts, axis=axis)


def block_partials(
    arrays: dict,
    block_coords: dict,
    dims: tuple,
    agg: dict,
    block: dict,
    schema: pa.Schema,
) -> pa.RecordBatch | None:
    """The partial rows of one block, or None when no cell passes the
    masks. ``arrays``: var -> block data C-ordered on ``dims``;
    ``block_coords``: dim -> the block's coordinates; ``block``: dim ->
    slice of the block in the whole grid (for the masks)."""
    coords = dict(block_coords)
    arrays = dict(arrays)
    for axis, d in enumerate(dims):
        m = agg["masks"].get(d)
        if m is None:
            continue
        m = m[block[d]]
        if m.all():
            continue
        idx = np.flatnonzero(m)
        coords[d] = coords[d][idx]
        arrays = {v: np.take(a, idx, axis=axis) for v, a in arrays.items()}
    if any(len(coords[d]) == 0 for d in dims):
        return None

    keys_of = {d: [i for i, (_k, kd) in enumerate(agg["keys"]) if kd == d] for d in dims}
    axes, key_values, sizes = [], [None] * len(agg["keys"]), []
    for d in dims:
        if not keys_of[d]:
            axes.append(_Axis(None))
            sizes.append(np.array([len(coords[d])], dtype=np.int64))
            continue
        vals = [
            coords[d] if agg["keys"][i][0] == "col" else datetime_field(coords[d], agg["keys"][i][0])
            for i in keys_of[d]
        ]
        codes, group_vals = _groups(vals)
        for i, gv in zip(keys_of[d], group_vals):
            key_values[i] = (d, gv)
        axes.append(_Axis(codes))
        sizes.append(np.bincount(codes).astype(np.int64))

    def reduce(ufunc, a):
        for axis, ax in enumerate(axes):
            a = ax.reduce(ufunc, a, axis)
        return a.reshape(-1)

    # one output row per combination of the key dims' groups, C order
    grid = np.meshgrid(*[np.arange(len(s)) for s in sizes], indexing="ij")
    columns = []
    for i, (d, gv) in enumerate(key_values):
        pos = grid[dims.index(d)].reshape(-1)
        columns.append(_to_arrow_array(gv[pos], schema.field(f"_k{i}").type))
    for j, (var, extra) in enumerate(agg["stats"].items()):
        a = np.asarray(arrays[var], dtype=np.float64)
        for axis, ax in enumerate(axes):
            a = ax.permute(a, axis)
        nan = np.isnan(a)
        count = reduce(np.add, (~nan).astype(np.int64))
        columns += [pa.array(reduce(np.add, np.where(nan, 0.0, a))), pa.array(count)]
        for stat, ufunc in (("min", np.fmin), ("max", np.fmax)):
            if stat in extra:
                columns.append(pa.array(reduce(ufunc, a), mask=count == 0))
    if agg["rows"]:
        rows = sizes[0]
        for s in sizes[1:]:
            rows = np.multiply.outer(rows, s)
        columns.append(pa.array(rows.reshape(-1)))
    return pa.RecordBatch.from_arrays(columns, schema=schema)
