"""Self-contained N-D gridded dataset model (numpy-backed).

The execution environment has no xarray, so the engine defines its own
minimal Dataset abstraction with xarray's vocabulary — named dimensions,
1-D dimension-coordinate arrays, N-D data variables sharing dims, attrs —
which is all the reference's semantics need (reference data model:
SURVEY.md §1; xarray_sql/reader.py:94-99 validates the same invariants).

Two storage modes:
- in-memory: variables hold numpy arrays (pickled to executors — fine for
  tests and small grids);
- store-backed: :meth:`Dataset.open_store` opens a Zarr v2 or v3 store
  (:mod:`xarray_sql_spark.zarr_store`) whose variables are lazy handles,
  so an executor reads only the chunks of the block + columns it was asked
  for — the same selective-read contract the reference gets from Zarr
  (reference reader.py:270-303).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Mapping

import numpy as np


@dataclass
class Variable:
    """An N-D array with named dimensions."""

    dims: tuple[str, ...]
    data: Any  # np.ndarray | a lazy handle with read_block
    attrs: dict = field(default_factory=dict)
    encoding: dict = field(default_factory=dict)

    @property
    def shape(self) -> tuple[int, ...]:
        return tuple(self.data.shape)

    @property
    def dtype(self):
        return self.data.dtype

    def values(self) -> np.ndarray:
        if hasattr(self.data, "read_block"):  # ZarrArray / QueryBackedVar
            return self.data.read_block(tuple(slice(None) for _ in self.shape))
        return np.asarray(self.data)

    def read_block(self, slices: tuple[slice, ...]) -> np.ndarray:
        if hasattr(self.data, "read_block"):
            return self.data.read_block(slices)
        return np.asarray(self.data[slices])


class Dataset:
    """A set of named N-D variables over shared named dimensions.

    ``coords`` maps dimension name -> 1-D numpy array (dimension
    coordinates; these become the prunable key columns of the pivoted
    table). Non-dimension coordinates live in ``extra_coords`` (dropped by
    the forward pivot, recovered from the template on the reverse path —
    reference df.py:388-396, ds.py:121-137).
    """

    def __init__(
        self,
        data_vars: Mapping[str, Variable] | Mapping[str, tuple],
        coords: Mapping[str, np.ndarray],
        attrs: dict | None = None,
        extra_coords: Mapping[str, Variable] | None = None,
    ):
        self.data_vars: dict[str, Variable] = {}
        for name, v in data_vars.items():
            if isinstance(v, Variable):
                self.data_vars[name] = v
            else:  # (dims, data[, attrs]) tuple sugar
                dims, data, *rest = v
                self.data_vars[name] = Variable(
                    tuple(dims), np.asarray(data), rest[0] if rest else {}
                )
        self.coords: dict[str, np.ndarray] = {k: np.asarray(c) for k, c in coords.items()}
        self.attrs: dict = dict(attrs or {})
        self.extra_coords: dict[str, Variable] = dict(extra_coords or {})
        # Per-dimension-coordinate attrs (CF units/calendar live here).
        self.coord_attrs: dict[str, dict] = {}
        self._validate()

    def _validate(self) -> None:
        sizes: dict[str, int] = {}
        for name, var in self.data_vars.items():
            if len(var.dims) != len(var.shape):
                raise ValueError(f"variable {name!r}: dims/shape mismatch")
            for d, n in zip(var.dims, var.shape):
                if sizes.setdefault(d, n) != n:
                    raise ValueError(f"dimension {d!r} has conflicting sizes")
        for d, c in self.coords.items():
            if c.ndim != 1:
                raise ValueError(f"coordinate {d!r} must be 1-D")
            if d in sizes and len(c) != sizes[d]:
                raise ValueError(f"coordinate {d!r} length != dimension size")

    @property
    def sizes(self) -> dict[str, int]:
        sizes: dict[str, int] = {}
        for var in self.data_vars.values():
            for d, n in zip(var.dims, var.shape):
                sizes[d] = n
        for d, c in self.coords.items():
            sizes.setdefault(d, len(c))
        return sizes

    def isel(self, indexers: Mapping[str, Any]) -> "Dataset":
        """Positional selection by dim with xarray semantics: slices pass
        through, integers DROP the dimension, and 1-D integer arrays on
        multiple dims index OUTER-style (cross product via ``np.ix_``), not
        numpy's pairwise fancy indexing. Store-backed variables read only the
        covering slice of each requested extent (reference
        xarray_sql/reader.py:270-303 reads the same minimal region per chunk).
        """
        sizes = self.sizes
        norm: dict[str, Any] = {}  # dim -> slice | 1-D positive int array
        int_dims: set[str] = set()
        for d, k in indexers.items():
            if d not in sizes:
                raise ValueError(
                    f"isel got indexer for unknown dimension {d!r}; "
                    f"dimensions are {sorted(sizes)}"
                )
            n = sizes[d]
            if isinstance(k, slice):
                norm[d] = k
            elif isinstance(k, (int, np.integer)):
                norm[d] = np.asarray([int(k) + n if k < 0 else int(k)])
                int_dims.add(d)
            else:
                arr = np.asarray(k)
                if arr.ndim != 1:
                    raise ValueError(
                        f"isel indexer for {d!r} must be a slice, int, or 1-D "
                        f"integer/boolean array, got ndim={arr.ndim}"
                    )
                if arr.dtype == bool:
                    # xarray mask semantics, not positions-0/1
                    if len(arr) != n:
                        raise ValueError(
                            f"boolean isel indexer for {d!r} has length "
                            f"{len(arr)}, dimension size is {n}"
                        )
                    arr = np.flatnonzero(arr)
                norm[d] = np.where(arr < 0, arr + n, arr).astype(np.intp)
        data_vars = {
            name: self._isel_var(var, norm, int_dims)
            for name, var in self.data_vars.items()
        }
        coords = {}
        for d, c in self.coords.items():
            if d in int_dims:
                continue  # dim dropped, xarray-style
            coords[d] = c[norm[d]] if d in norm else c
        extra = {
            name: self._isel_var(var, norm, int_dims)
            for name, var in self.extra_coords.items()
        }
        return Dataset(data_vars, coords, dict(self.attrs), extra)

    @staticmethod
    def _isel_var(var: "Variable", norm: Mapping[str, Any], int_dims: set) -> "Variable":
        """Apply normalized indexers to one variable: covering-slice read,
        then local outer indexing, then squeeze of int-indexed axes."""
        covering: list[slice] = []
        local: list[Any] = []  # per-axis local indexer into the read block
        for d, n in zip(var.dims, var.shape):
            k = norm.get(d, slice(None))
            if isinstance(k, slice):
                covering.append(k)
                local.append(None)  # keep whole read extent
            elif len(k) == 0:
                covering.append(slice(0, 0))
                local.append(np.asarray([], dtype=np.intp))
            else:
                lo, hi = int(k.min()), int(k.max())
                covering.append(slice(lo, hi + 1))
                local.append(k - lo)
        block = var.read_block(tuple(covering))
        if any(loc is not None for loc in local):
            axes = [
                loc if loc is not None else np.arange(extent, dtype=np.intp)
                for loc, extent in zip(local, block.shape)
            ]
            block = block[np.ix_(*axes)] if axes else block
        drop = tuple(i for i, d in enumerate(var.dims) if d in int_dims)
        if drop:
            block = np.squeeze(block, axis=drop)
        new_dims = tuple(d for d in var.dims if d not in int_dims)
        return Variable(new_dims, block, dict(var.attrs), dict(var.encoding))

    def select_vars(self, names) -> "Dataset":
        return Dataset(
            {n: self.data_vars[n] for n in names},
            dict(self.coords),
            dict(self.attrs),
            dict(self.extra_coords),
        )

    @classmethod
    def from_xarray(cls, xds) -> "Dataset":
        """Adapt a real ``xarray.Dataset`` into this model — the reference's
        entire API surface takes xarray objects (reference sql.py:25-149),
        so a user holding one can register it directly the day the
        environment ships the xarray wheel (it doesn't today; the guarded
        test skips). Mapping: data variables keep dims/attrs/encoding,
        dimension coordinates become the prunable ``coords`` (their attrs
        land in ``coord_attrs`` — CF units/calendar ride along),
        non-dimension coordinates become ``extra_coords``. Chunked (dask)
        variables are materialized — pass the source's ``xds.chunks`` as
        the registration ``chunks=`` to keep the partition grid instead.

        Works with any object structurally shaped like xarray's Dataset
        (duck-typed), so the adapter is testable without the dependency.
        """
        data_vars = {}
        for name, v in xds.data_vars.items():
            data_vars[str(name)] = Variable(
                tuple(str(d) for d in v.dims),
                np.asarray(v.values),
                dict(getattr(v, "attrs", {}) or {}),
                dict(getattr(v, "encoding", {}) or {}),
            )
        coords: dict[str, np.ndarray] = {}
        coord_attrs: dict[str, dict] = {}
        extra: dict[str, Variable] = {}
        for name, c in xds.coords.items():
            cname = str(name)
            if tuple(c.dims) == (name,):  # dimension coordinate
                vals = np.asarray(c.values)
                coords[cname] = vals
                attrs = dict(getattr(c, "attrs", {}) or {})
                # A decoded xarray dataset keeps CF units/calendar in
                # .encoding (attrs are emptied by decode_cf). Recover them
                # ONLY while the values are still in the encoded (numeric)
                # domain — once decoded to datetime64 the units no longer
                # describe the in-memory values and copying them would
                # make registration double-decode.
                enc = dict(getattr(c, "encoding", {}) or {})
                if vals.dtype.kind in "iuf":
                    for k in ("units", "calendar"):
                        if k in enc and k not in attrs:
                            attrs[k] = enc[k]
                if attrs:
                    coord_attrs[cname] = attrs
            else:
                extra[cname] = Variable(
                    tuple(str(d) for d in c.dims),
                    np.asarray(c.values),
                    dict(getattr(c, "attrs", {}) or {}),
                )
        out = cls(data_vars, coords, dict(getattr(xds, "attrs", {}) or {}), extra)
        out.coord_attrs = coord_attrs
        return out

    @classmethod
    def open_store(cls, path: str, load_coords: bool = True) -> "Dataset":
        """Open a Zarr v2 or v3 store lazily (the format real users have —
        reference reader.py:192-337): coordinates load eagerly (small,
        needed for bounds), data variables become lazy block-readable
        handles. ``load_coords=False`` leaves the coordinates out (a scan
        task carries its own)."""
        # looked up per call, so a patched zarr_store.open_zarr is the one used
        from xarray_sql_spark.zarr_store import open_zarr

        return open_zarr(path, load_coords=load_coords)
