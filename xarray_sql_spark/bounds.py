"""Dim-predicate pushdown: one exact coordinate-mask evaluator.

Every grid scan prunes chunk blocks and selects cells the same way. Each
filter conjunct on a dim (or on a datetime field of a datetime dim) is
evaluated against the dim's 1-D coordinate array with exactly Spark's
comparison semantics (:func:`coord_mask`); :func:`dim_masks` ANDs the
conjuncts per dim. A block is read only if some cell of it passes every
mask, and only those cells are emitted (the grid reader's
``_kept_cells``). Only coordinate arrays are touched, never a data
variable. The masks are exact, so they prune at least as much as the
reference's per-chunk min/max test (df.py:414-508, src/lib.rs:206-448): a
block of a non-monotonic axis whose range spans a value but which holds no
matching coordinate is dropped too.

A conjunct the evaluator mirrors is Exact: the reader answers it and
Catalyst drops it from the plan. A conjunct it cannot mirror exactly (a
type mismatch, NaN or NaT coordinates, a string predicate under a
non-binary session collation, a name that is no coordinate) narrows
nothing and is Inexact (the reference's contract for every filter,
src/lib.rs:548-565): it goes back to Catalyst and is re-applied row by
row. The session's aggregate shortcuts use the masks only when every
conjunct was mirrored.

Per-block min/max bounds (:func:`dim_bounds`) only feed ``scan_stats``.
"""

from __future__ import annotations

from typing import Any, Mapping

import numpy as np

from xarray_sql_spark.sources.partials import datetime_field

_INT_SQL_TYPES = {"integer", "long", "short", "byte"}


def dim_bounds(coords: Mapping[str, np.ndarray], block: Mapping[str, slice]) -> dict[str, tuple]:
    """(min, max) per dim for one block; byte, object and NaT-holding
    datetime dims are left out."""
    out: dict[str, tuple] = {}
    for d, sl in block.items():
        c = coords.get(d)
        if c is None or c.dtype.kind in ("S", "O"):
            continue
        seg = c[sl]
        if len(seg) == 0:
            continue
        if seg.dtype.kind == "U":  # no min/max ufunc for unicode arrays
            vals = seg.tolist()
            out[d] = (min(vals), max(vals))
        else:
            if seg.dtype.kind in "Mm" and np.isnat(seg).any():
                # NaT would canonicalize to INT64_MIN
                continue
            out[d] = (_canon(seg.min()), _canon(seg.max()))
    return out


def _canon(v: Any):
    """A bound as a plain scalar: datetimes as int64 microseconds."""
    if isinstance(v, np.datetime64):
        return v.astype("datetime64[us]").astype("int64")
    if isinstance(v, np.generic):
        return v.item()
    return v


def coord_mask(coords: np.ndarray, op: str, lits) -> np.ndarray | None:
    """Evaluate one filter conjunct against a coordinate array with
    EXACTLY Spark's comparison semantics, or None if we can't guarantee
    that (type mismatch, NaN coords or literals where Spark orders NaN
    greatest, unsupported dtype)."""
    kinds = {t for _v, t in lits}
    vals = [v for v, _t in lits]
    if coords.dtype.kind == "M":
        if not kinds <= {"timestamp", "timestamp_ntz"}:
            return None
        if np.isnat(coords).any():
            # NaT pivots to SQL NULL (excluded by every comparison); the
            # int64 view would compare it as INT64_MIN and over-count.
            return None
        # the pivoted table exposes microsecond timestamps, so compare in
        # the same truncated domain the engine would
        cv = coords.astype("datetime64[us]").astype(np.int64)
    elif coords.dtype.kind in "iu":
        if not kinds <= _INT_SQL_TYPES:
            return None
        cv = coords
    elif coords.dtype.kind == "f":
        if not kinds <= (_INT_SQL_TYPES | {"double", "float"}):
            return None
        if np.isnan(coords).any() or np.isnan(np.asarray(vals, dtype=np.float64)).any():
            return None  # Spark orders NaN greatest; numpy compares False
        cv = coords.astype(np.float64)  # numpy would round a literal to float32
    elif coords.dtype.kind in "US":
        if kinds != {"string"}:
            return None
        # byte coords pivot to UTF-8 strings
        cv = np.char.decode(coords, "utf-8") if coords.dtype.kind == "S" else coords
        vals = [str(v) for v in vals]
    else:
        return None
    if op == ">":
        return cv > vals[0]
    if op == ">=":
        return cv >= vals[0]
    if op == "<":
        return cv < vals[0]
    if op == "<=":
        return cv <= vals[0]
    if op == "=":
        return cv == vals[0]
    if op == "in" and cv.dtype.kind == "U":
        return np.isin(cv, vals)  # no cast: it would truncate longer values
    if op == "in":
        # Validate the literal->coord-dtype cast explicitly: an out-of-range
        # IN value (e.g. a long literal against int32 coords) overflow-wraps
        # SILENTLY on older numpy instead of raising, which would produce a
        # wrong mask. Round-trip the cast through Python scalars and fall
        # back to the engine on any mismatch.
        try:
            cast = np.asarray(vals).astype(cv.dtype)
            if cast.tolist() != np.asarray(vals).tolist():
                return None
        except Exception:
            return None
        return np.isin(cv, cast)
    return None


def dim_masks(
    coords: Mapping[str, np.ndarray], preds, binary_collation: bool = True
) -> tuple[dict[str, np.ndarray], list[bool]]:
    """``(masks, mirrored)``: per-dim boolean masks ANDing every conjunct
    of ``preds`` that can be mirrored exactly (no such conjunct on a dim:
    no mask), and whether each conjunct was, in order.

    A conjunct is ``((kind, dim), op, ((value, type), ...))``: ``kind`` is
    ``"col"`` (the coordinate itself) or a datetime field of a datetime
    dim, ``op`` a comparison, ``"in"`` or ``"notnull"``, and each literal
    carries its Spark type name (timestamps as epoch microseconds). A
    conjunct on a name outside ``coords`` is not mirrored.
    ``binary_collation=False`` declines string conjuncts: numpy compares
    strings by code point, a collation-aware session default (e.g.
    UTF8_LCASE) does not."""
    masks: dict[str, np.ndarray] = {}
    mirrored = []
    for (kind, dim), op, lits in preds:
        m = _conjunct_mask(coords.get(dim), kind, op, lits, binary_collation)
        mirrored.append(m is not None)
        if m is not None:
            masks[dim] = m & masks[dim] if dim in masks else m
    return masks, mirrored


def _conjunct_mask(c, kind: str, op: str, lits, binary_collation: bool) -> np.ndarray | None:
    """One :func:`dim_masks` conjunct over its dim's coordinates ``c``."""
    if c is None:
        return None  # a data variable, or an implicit coordless dim
    c = np.asarray(c)
    if kind != "col":
        if c.dtype.kind != "M" or np.isnat(c).any():
            return None
        c = datetime_field(c, kind)
    if c.dtype.kind in "US" and not binary_collation:
        return None
    if op != "notnull":
        return coord_mask(c, op, lits)
    # Dim coords are non-null EXCEPT NaT/NaN axis values, which pivot to
    # SQL NULL.
    if c.dtype.kind in "Mm":
        return ~np.isnat(c)
    if c.dtype.kind == "f":
        return ~np.isnan(c)
    return np.ones(len(c), dtype=bool)
