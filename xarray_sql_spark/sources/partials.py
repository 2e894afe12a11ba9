"""Leaf partial aggregation: one chunk block -> one Arrow row per group.

The grid reader's aggregate mode (``payload["aggregate"]``, read from the
``aggregate`` option that ``XarraySession`` writes for an
:class:`~xarray_sql_spark.plans.introspect.AggregateSpec` it can answer)
reduces each block in numpy and emits the groups the block holds instead
of its cells; Catalyst merges the partials with an ordinary
``groupBy().agg()``. This is the serving-tree split of Dremel: leaves
aggregate, the root merges.

The aggregate dict:

- ``keys``: ``[(kind, dim)]`` with ``kind`` ``"col"`` (the coordinate
  itself) or a datetime field of a datetime dim (``"hour"``,
  ``"dayofmonth"``, ``"month"``, ``"year"``, ``"dayofyear"``);
  ``key_nullable``: the engine's nullability of each key column;
- ``stats``: ``[(tree, [extra stats])]``, one per aggregated expression
  (:func:`evaluate`); each gets a float64 sum and a non-null count, plus
  ``"min"``/``"max"`` when asked;
- ``rows``: whether to emit the cell count per group (``COUNT(*)``);
- ``masks``: ``{dim: bool array over the whole dim}``, the filter;
- ``lookup`` (a dense lookup join, or None): ``offsets`` ``{dim: int64
  array over the whole dim}`` whose sum over a cell's dims is the cell's
  position in the small side's dense key space, ``present`` (bool, per
  key position: the small side holds that key) and ``columns`` ``{i:
  (float64 values, bool nulls)}`` per small-side output ``i``.

The whole-dim arrays are cut at planning to each block's cells that pass
the masks (the grid reader's ``_kept_cells``), so a task carries only its
own share of them and reduces only those cells.

Semantics mirror the joined, pivoted rows exactly: NaN cells are SQL NULL
(they add nothing to sums, counts, minima or maxima but do count as rows);
NULL propagates through every expression node; a NaN an expression
computes (``inf - inf``) is a value, as in Spark: it poisons sums and
maxima and is a minimum only when nothing else is. A group's min/max is
null when it holds no valid value. Under a lookup, a cell whose key the
small side lacks is not a row at all (an inner join), and a group with no
such rows is not emitted.
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
    """Columns of the partial rows: ``_k{i}`` per key, then per stat ``j``
    ``_s{j}`` (sum), ``_n{j}`` (count) and ``_mn{j}``/``_mx{j}`` when
    asked, then ``_rows``."""
    nullable = agg.get("key_nullable") or [False] * len(agg["keys"])
    fields = [
        # keys never hold a null (the session declines dims with NaN/NaT
        # values); their nullability is the engine's, so schemas compare
        pa.field(
            f"_k{i}",
            pivot_schema.field(d).type if kind == "col" else pa.int32(),
            nullable=bool(nullable[i]),
        )
        for i, (kind, d) in enumerate(agg["keys"])
    ]
    for j, (_tree, extra) in enumerate(agg["stats"]):
        fields += [pa.field(f"_s{j}", pa.float64()), pa.field(f"_n{j}", pa.int64())]
        fields += [pa.field(f"{_STAT_COL[s]}{j}", pa.float64()) for s in ("min", "max") if s in extra]
    if agg["rows"]:
        fields.append(pa.field("_rows", pa.int64()))
    return pa.schema(fields)


def tree_leaves(tree, op: str) -> set:
    """The arguments of an expression tree's ``op`` leaves: the scan
    variables it reads (``"var"``) or the small-side outputs (``"look"``)."""
    if tree[0] == op:
        return {tree[2]}
    if tree[0] in ("var", "look", "lit"):
        return set()
    return set().union(*(tree_leaves(c, op) for c in tree[2:]))


def read_vars(agg: dict) -> list:
    """The variables a partial scan reads, in a stable order."""
    return sorted(set().union(*(tree_leaves(t, "var") for t, _e in agg["stats"])))


_UFUNCS = {"add": np.add, "sub": np.subtract, "mul": np.multiply, "div": np.divide}


def evaluate(tree, arrays: dict, looked: dict, memo: dict | None = None):
    """(values, null mask) of an expression tree over one block.

    Nodes are ``(op, dtype, *args)``: ``("var", dt, name)`` reads
    ``arrays[name]`` (NaN is NULL), ``("look", dt, i)`` the small side's
    gathered output ``looked[i] = (values, nulls)``, ``("lit", dt, v)``;
    ``cast``/``neg`` take one child, ``add``/``sub``/``mul``/``div`` two.
    Every node computes in ``dt``, the numpy dtype of its Catalyst type
    (float32 or float64), so each value is bit-identical to the engine's;
    NULL is tracked as its own mask, never as NaN. Shared subtrees are
    evaluated once per ``memo``."""
    if memo is not None and tree in memo:
        return memo[tree]
    op, dt = tree[0], np.dtype(tree[1])
    if op == "var":
        a = arrays[tree[2]]
        out = (a.astype(dt, copy=False), np.isnan(a))
    elif op == "look":
        v, n = looked[tree[2]]
        out = (v.astype(dt, copy=False), n)
    elif op == "lit":
        out = (dt.type(tree[2]), np.False_)
    elif op in ("cast", "neg"):
        v, n = evaluate(tree[2], arrays, looked, memo)
        out = (v.astype(dt) if op == "cast" else np.negative(v), n)
    else:
        (lv, ln), (rv, rn) = (evaluate(c, arrays, looked, memo) for c in tree[2:])
        out = (_UFUNCS[op](lv, rv), ln | rn)
    if memo is not None:
        memo[tree] = out
    return out


def without_axes(agg: dict) -> dict:
    """``agg`` minus its whole-dim arrays, which partitions carry cut."""
    lookup = agg.get("lookup")
    return {
        **agg,
        "masks": {},
        "lookup": {**lookup, "offsets": {}} if lookup else None,
    }


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


def _lookup(lookup: dict, offsets: dict, dims: tuple, shape: tuple):
    """(present mask or None when every cell matches, {i: (values,
    nulls)}) of the small side gathered over one block, or None when no
    cell matches."""
    flat = np.zeros((1,) * len(dims), dtype=np.int64)
    for axis, d in enumerate(dims):
        if d in offsets:
            flat = flat + offsets[d].reshape([-1 if i == axis else 1 for i in range(len(dims))])
    present = lookup["present"][flat]
    if not present.any():
        return None
    valid = None if present.all() else np.broadcast_to(present, shape)
    return valid, {i: (v[flat], n[flat]) for i, (v, n) in lookup["columns"].items()}


def block_partials(
    arrays: dict,
    coords: dict,
    dims: tuple,
    agg: dict,
    offsets: dict | None,
    schema: pa.Schema,
) -> pa.RecordBatch | None:
    """The partial rows of one block's cells that pass the masks, or None
    when there are none (or, under a lookup, none matches a small-side
    key). ``arrays``: var -> those cells' data C-ordered on ``dims``;
    ``coords``: dim -> their coordinates; ``offsets``: dim -> their lookup
    offsets."""
    if any(len(coords[d]) == 0 for d in dims):
        return None
    shape = tuple(len(coords[d]) for d in dims)
    valid, looked = None, {}
    if agg.get("lookup"):
        found = _lookup(agg["lookup"], offsets, dims, shape)
        if found is None:
            return None
        valid, looked = found

    keys_of = {d: [i for i, (_k, kd) in enumerate(agg["keys"]) if kd == d] for d in dims}
    axes_, key_values, sizes = [], [None] * len(agg["keys"]), []
    for d in dims:
        if not keys_of[d]:
            axes_.append(_Axis(None))
            sizes.append(np.array([len(coords[d])], dtype=np.int64))
            continue
        vals = [
            coords[d] if agg["keys"][i][0] == "col" else datetime_field(coords[d], agg["keys"][i][0])
            for i in keys_of[d]
        ]
        codes, group_vals = _groups(vals)
        for i, gv in zip(keys_of[d], group_vals):
            key_values[i] = (d, gv)
        axes_.append(_Axis(codes))
        sizes.append(np.bincount(codes).astype(np.int64))

    def arrange(a):
        """``a`` over the whole block, each key dim's groups contiguous."""
        a = np.broadcast_to(a, shape)
        for axis, ax in enumerate(axes_):
            a = ax.permute(a, axis)
        return a

    def reduce(ufunc, a):
        for axis, ax in enumerate(axes_):
            a = ax.reduce(ufunc, a, axis)
        return a.reshape(-1)

    if valid is None:
        rows = sizes[0]
        for s in sizes[1:]:
            rows = np.multiply.outer(rows, s)
        rows = rows.reshape(-1)
    else:
        rows = reduce(np.add, arrange(valid).astype(np.int64))
    # one output row per combination of the key dims' groups, C order;
    # under a lookup, only the groups that hold a joined row
    keep = None if valid is None or rows.all() else np.flatnonzero(rows)
    if keep is not None and not len(keep):
        return None

    def column(a, mask=None):
        if keep is not None:
            a = a[keep]
            mask = None if mask is None else mask[keep]
        return pa.array(a, mask=mask)

    grid = np.meshgrid(*[np.arange(len(s)) for s in sizes], indexing="ij")
    columns = []
    for i, (d, gv) in enumerate(key_values):
        pos = grid[dims.index(d)].reshape(-1)
        if keep is not None:
            pos = pos[keep]
        columns.append(_to_arrow_array(gv[pos], schema.field(f"_k{i}").type))
    memo: dict = {}
    with np.errstate(all="ignore"):
        for tree, extra in agg["stats"]:
            v, null = evaluate(tree, arrays, looked, memo)
            if valid is not None:
                null = null | ~valid
            v = arrange(v).astype(np.float64)
            null = arrange(null)
            count = reduce(np.add, (~null).astype(np.int64))
            columns += [column(reduce(np.add, np.where(null, 0.0, v))), column(count)]
            # NaN sorts above every value in Spark: a computed NaN is the
            # maximum, and the minimum only of a group holding nothing else
            if "min" in extra:
                columns.append(column(reduce(np.fmin, np.where(null, np.nan, v)), count == 0))
            if "max" in extra:
                columns.append(column(reduce(np.maximum, np.where(null, -np.inf, v)), count == 0))
    if agg["rows"]:
        columns.append(column(rows))
    return pa.RecordBatch.from_arrays(columns, schema=schema)
