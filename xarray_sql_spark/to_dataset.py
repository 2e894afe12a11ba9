"""Reverse pivot: SQL result rows -> dense N-D Dataset (reference ds.py).

``XarraySession.sql`` returns an :class:`XarrayDataFrame` — a thin wrapper
forwarding everything to the inner pyspark DataFrame (reference
ds.py:920-923) and adding ``to_dataset``:

- Eager path (A10): one Arrow collection; per-dim coordinates are the
  first-appearance-ordered unique values of the dim columns (preserving an
  ORDER BY's direction into the output axis order — reference ds.py:394-413);
  every data column is scattered into a dense array by computed flat indices
  (the searchsorted-scatter of reference ds.py:150-207). Exactly one source
  scan regardless of query shape (tests/test_ds.py:142-177).
- dims inference: defaults from registered datasets whose dims are a subset
  of the result columns; ambiguity is an error (reference ds.py:877-914).
- sparsity: ``"result"`` keeps only returned coordinate values;
  ``"template"`` reindexes onto the template's full grid with ``fill_value``
  (NaN default, int -> float upcast unless a typed sentinel is given —
  reference ds.py:43-50, 676-684).
- template metadata recovery: variable attrs/encoding (minus dtype-bound
  encoding keys), non-dim coords whose dims are all present, dataset attrs
  (reference ds.py:72-147). Aggregation aliases inherit nothing.
"""

from __future__ import annotations

import weakref
from typing import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from xarray_sql_spark.dataset import Dataset, Variable

# chunks="auto" byte target (the dask chunk manager's default the
# reference inherits via dask.config "array.chunk-size"; ds.py:566-575)
_AUTO_CHUNK_TARGET_BYTES = 128 << 20

_DTYPE_BOUND_ENCODING = ("dtype", "_FillValue", "missing_value")


class XarrayDataFrame:
    """pyspark DataFrame + ``to_dataset``."""

    def __init__(
        self,
        df: DataFrame,
        registered: Mapping[str, Dataset] | None = None,
        registered_chunks: Mapping[str, dict] | None = None,
        payload_names: Mapping[str, str] | None = None,
    ):
        self._df = df
        self._registered = dict(registered or {})
        self._registered_chunks = dict(registered_chunks or {})
        # payload path -> dataset name: identity check for the pure-scan
        # coordinate fast path (purity alone is not identity)
        self._payload_names = dict(payload_names or {})

    def __getattr__(self, item):
        return getattr(self._df, item)

    @property
    def df(self) -> DataFrame:
        return self._df

    def to_pandas(self) -> pd.DataFrame:
        """Reference-parity spelling (reference sql.py result surface:
        ``ctx.sql(...).to_pandas()``); Spark calls this ``toPandas``."""
        return self._df.toPandas()

    # ------------------------------------------------------------------
    def _infer_dims(self, columns: Sequence[str], dims, template) -> tuple[str, ...]:
        if dims is not None:
            return tuple(dims)
        if template is not None:
            cand = tuple(d for d in template.sizes if d in columns)
            if cand:
                return cand
        # Any registered variable whose dims intersect the result columns
        # proposes that intersection (in the variable's dim order) as the
        # candidate dims tuple.
        candidates: dict[tuple[str, ...], str] = {}
        for name, ds in self._registered.items():
            for var in ds.data_vars.values():
                cand = tuple(d for d in var.dims if d in columns)
                if cand:
                    candidates.setdefault(cand, name)
        full = list(candidates)
        if not full:
            raise ValueError(
                f"cannot infer dims from columns {list(columns)}; pass dims="
            )
        uniq = {tuple(sorted(c)) for c in full}
        if len(uniq) > 1:
            raise ValueError(
                f"ambiguous dims {sorted(uniq)} inferred from registered datasets; pass dims="
            )
        return max(full, key=len)

    def _resolve_template(self, template) -> Dataset | None:
        if isinstance(template, Dataset):
            return template
        if isinstance(template, str):
            return self._registered[template]
        if template is None and len(self._registered) == 1:
            return next(iter(self._registered.values()))
        return None

    def to_dataset(
        self,
        dims: Sequence[str] | None = None,
        template: "Dataset | str | None" = None,
        sparsity: str = "result",
        fill_value=None,
        chunks: "Mapping[str, int] | str | None" = None,
    ) -> Dataset:
        """``chunks=None`` -> eager single-scan materialization;
        a mapping / ``"auto"`` -> lazy query-backed arrays (A11);
        ``"inherit"`` -> source chunking when genuinely multi-chunk, else
        eager (reference ds.py:827-855)."""
        if chunks is not None:
            resolved = self._resolve_lazy_chunks(chunks, dims, template)
            if resolved is not None:
                return self._build_lazy(dims, template, resolved, fill_value)
        tmpl = self._resolve_template(template)
        pdf = self._df.toPandas()
        dims = self._infer_dims(list(pdf.columns), dims, tmpl)
        for d in dims:
            if d not in pdf.columns:
                raise ValueError(f"dim column {d!r} not in result columns {list(pdf.columns)}")

        # First-appearance unique coordinate values per dim (preserves the
        # query's ORDER BY direction, reference ds.py:394-413).
        codes: list[np.ndarray] = []
        coords: dict[str, np.ndarray] = {}
        for d in dims:
            code, uniq = pd.factorize(pdf[d], use_na_sentinel=False)
            codes.append(np.asarray(code, dtype=np.int64))
            coords[d] = np.asarray(uniq)

        shape = tuple(len(coords[d]) for d in dims)
        flat = np.zeros(len(pdf), dtype=np.int64)
        stride = 1
        for k in range(len(dims) - 1, -1, -1):
            flat += codes[k] * stride
            stride *= shape[k]

        data_vars: dict[str, Variable] = {}
        value_cols = [c for c in pdf.columns if c not in dims]
        for col in value_cols:
            values = pdf[col].to_numpy()
            dtype = values.dtype
            fv = fill_value
            if dtype.kind in "iu" and fv is None:
                values = values.astype(np.float64)
                dtype = values.dtype
            if fv is None:
                fv = (
                    np.nan
                    if dtype.kind == "f"
                    else (
                        np.datetime64("NaT")
                        if dtype.kind == "M"
                        else (np.timedelta64("NaT") if dtype.kind == "m" else None)
                    )
                )
            dense = np.full(shape, fv, dtype=dtype if fv is not None else object)
            if fv is None:
                dense = np.full(shape, None, dtype=object)
            dense.ravel()[flat] = values
            data_vars[col] = Variable(dims, dense)

        out = Dataset(data_vars, coords)

        if sparsity == "template":
            if tmpl is None:
                raise ValueError('sparsity="template" requires a template')
            out = _reindex_to_template(out, tmpl, dims, fill_value)
        elif sparsity != "result":
            raise ValueError(f"unknown sparsity {sparsity!r}")

        if tmpl is not None:
            _recover_metadata(out, tmpl)
        return out


    def to_zarr(
        self,
        path: str,
        dims: Sequence[str] | None = None,
        template: "Dataset | str | None" = None,
        sparsity: str = "result",
        fill_value=None,
        chunks: "Mapping[str, int] | None" = None,
        compressor: dict | None = {"id": "zlib", "level": 1},
    ) -> str:
        """Materialize the query result and write it as a Zarr v2 directory
        group (with consolidated metadata) — the round-trip closer: Zarr in
        (``Dataset.open_store``), SQL, Zarr out. ``chunks`` sets the written
        chunk grid (defaults to single-chunk arrays)."""
        from xarray_sql_spark.zarr_store import write_zarr

        out = self.to_dataset(
            dims=dims, template=template, sparsity=sparsity, fill_value=fill_value
        )
        return write_zarr(out, path, chunks=chunks, compressor=compressor)

    def to_zarr_distributed(
        self,
        path: str,
        dims: Sequence[str],
        chunks: "Mapping[str, int] | None" = None,
        compressor: dict | None = {"id": "zlib", "level": 1},
        zarr_format: int = 2,
        shards: "Mapping[str, int] | None" = None,
    ) -> dict[str, int]:
        """Executor-parallel Zarr sink — the scale path ``to_zarr`` isn't:
        rows shuffle once on their chunk (or shard) key and every file is
        written from the executor holding it; the driver handles only axes
        + metadata (see :mod:`xarray_sql_spark.operators.zarr_sink`).

        When the plan is provably a pure scan of a registered grid (A12
        detection), the axes come straight from the source's coord
        metadata — ZERO extra jobs, no per-dim distinct — so a 100×-longer
        time axis costs the driver nothing; otherwise the sink fetches
        axes itself (Arrow batches, length-guarded). Returns
        {chunk_key: rows_written}."""
        from xarray_sql_spark.operators.zarr_sink import write_zarr_distributed

        coords = None
        name, src = self._source_dataset()
        if (
            src is not None
            and self._pure_scan_of(name, dims)
            and all(d in src.coords for d in dims)
        ):
            coords = {d: np.asarray(src.coords[d]) for d in dims}
        return write_zarr_distributed(
            self._df, path, dims, chunks, compressor, zarr_format, shards,
            coords=coords,
        )

    def to_zarr_region(
        self,
        path: str,
        region: "Mapping[str, tuple[int, int]]",
        validate: bool = True,
    ) -> dict[str, int]:
        """Overwrite a chunk-aligned rectangular region of an EXISTING
        Zarr store with this query's rows, executor-parallel — xarray's
        ``to_zarr(region=...)`` contract at cluster scale (see
        :func:`xarray_sql_spark.operators.zarr_sink.write_zarr_region`
        for alignment/raw-domain rules). Returns {chunk_key: rows}."""
        from xarray_sql_spark.operators.zarr_sink import write_zarr_region

        return write_zarr_region(self._df, path, region, validate=validate)

    # -- lazy path (A11/A12/A14) ---------------------------------------
    def _source_dataset(self, template=None) -> tuple[str, Dataset] | tuple[None, None]:
        if isinstance(template, str) and template in self._registered:
            return template, self._registered[template]
        tmpl = self._resolve_template(template)
        for n, d in self._registered.items():
            if d is tmpl:
                return n, d
        if len(self._registered) == 1:
            return next(iter(self._registered.items()))
        return None, None

    def _resolve_lazy_chunks(self, chunks, dims, template):
        """Return a concrete {dim: chunk} mapping, or None meaning: stay
        eager (reference "inherit" collapses to eager for effectively
        unchunked sources, ds.py:827-855)."""
        name, src = self._source_dataset(template)
        src_chunks = self._registered_chunks.get(name, {}) if name else {}
        if isinstance(chunks, str):
            if chunks == "inherit":
                multi = {
                    d: c
                    for d, c in src_chunks.items()
                    if src is not None and d in src.sizes and c < src.sizes[d]
                }
                return multi or None
            if chunks == "auto":
                # Byte-budget chunks snapped to WHOLE source partitions
                # (reference ds.py:566-625): one source-partition block is
                # itemsize x prod(per-dim source chunk length); merge
                # enough whole blocks to approach the ~128 MiB target,
                # absorbing ALL coarsening into the most finely
                # partitioned dim while every other dim keeps its source
                # chunk length — so no result chunk ever splits a source
                # partition (adjacent chunks would re-read it).
                if src is None:
                    return None
                budget = _AUTO_CHUNK_TARGET_BYTES
                sizes = src.sizes
                # the source partition grid: dims absent from the chunk
                # spec are one whole-length chunk
                part = {d: min(src_chunks.get(d, n), n) for d, n in sizes.items()}
                chunked = [d for d in sizes if part[d] < sizes[d]]
                if not chunked:
                    return None
                itemsize = max(
                    (v.dtype.itemsize for v in src.data_vars.values()), default=8
                )
                block_bytes = itemsize
                for c in part.values():
                    block_bytes *= int(c)
                merge = max(1, budget // max(block_bytes, 1))
                # most finely partitioned dim absorbs the merge (first
                # wins on ties, like the reference's max())
                primary = max(chunked, key=lambda d: -(-sizes[d] // part[d]))
                return {
                    d: min(part[d] * (merge if d == primary else 1), sizes[d])
                    for d in chunked
                }
            raise ValueError(f"unknown chunks spec {chunks!r}")
        return dict(chunks) or None

    def _pure_scan_of(self, name: str | None, dims=()) -> bool:
        """True iff the plan is a pure scan AND the scanned relation is a
        registered scan (full or pruned) of dataset ``name`` AND every
        ``dims`` column is the scan's own output attribute (exprId-level
        passthrough — a COMPUTED alias like ``time + INTERVAL 1 HOUR AS
        time`` is still a pure Project-over-scan but its values no longer
        equal the source axis, so it must not borrow it). Falls back to
        False (collected axes, always correct) whenever identity can't be
        proven."""
        if name is None:
            return False
        from xarray_sql_spark.plans.introspect import pure_scan_passthrough

        pp = pure_scan_passthrough(self._df)
        if pp is None:
            return False
        payload, passthrough = pp
        return self._payload_names.get(payload) == name and set(dims) <= passthrough

    def _build_lazy(self, dims, template, chunk_map: dict, fill_value=None) -> Dataset:
        tmpl = self._resolve_template(template)
        columns = self._df.columns
        dims = self._infer_dims(columns, dims, tmpl)
        name, src = self._source_dataset(template)

        # Coordinate discovery: source coords when provably a pure scan
        # (A12), else per-dim SELECT DISTINCT ... ORDER BY (reference
        # ds.py:531-543).
        coords: dict[str, np.ndarray] = {}
        use_src = src is not None and self._pure_scan_of(name, dims) and all(
            d in src.coords for d in dims
        )
        inner = self._df.persist()
        for d in dims:
            if use_src:
                coords[d] = np.asarray(src.coords[d])
            else:
                pdf = inner.select(d).distinct().orderBy(d).toPandas()
                coords[d] = pdf[d].to_numpy()
            if coords[d].dtype.kind == "M":
                # µs everywhere: table values are µs timestamps, and
                # .tolist() on ns arrays yields raw ints, breaking filters.
                coords[d] = coords[d].astype("datetime64[us]")

        dtypes = dict(self._df.dtypes)
        shape = tuple(len(coords[d]) for d in dims)
        data_vars = {}
        for col in columns:
            if col in dims:
                continue
            # A typed fill sentinel keeps integer columns integer, matching
            # the eager path (reference rule ds.py:43-50: int -> float64
            # upcast happens ONLY when the fill is the NaN default).
            np_dtype = _spark_to_numpy(dtypes[col], typed_fill=fill_value is not None)
            data_vars[col] = Variable(
                tuple(dims),
                QueryBackedVar(
                    inner, tuple(dims), coords, col, shape, np_dtype, fill_value
                ),
            )
        out = Dataset(data_vars, coords)
        out.lazy_chunks = dict(chunk_map)  # advisory block sizes for callers

        # The persisted inner DataFrame must not outlive the Dataset:
        # release explicitly via close() or automatically when the Dataset
        # is garbage-collected (round-1 ADVICE: _build_lazy leaked its
        # cached partitions forever).
        def _release(df=inner):
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped

        out.close = _release
        out._lazy_finalizer = weakref.finalize(out, _release)
        if tmpl is not None:
            _recover_metadata(out, tmpl)
        return out


_SPARK_INT_TYPES = {
    "int": "int32",
    "bigint": "int64",
    "smallint": "int16",
    "tinyint": "int8",
}


def _spark_to_numpy(dt: str, typed_fill: bool = False) -> np.dtype:
    if typed_fill and dt in _SPARK_INT_TYPES:
        return np.dtype(_SPARK_INT_TYPES[dt])
    mapping = {
        "float": np.dtype("float32"),
        "double": np.dtype("float64"),
        "int": np.dtype("float64"),  # int results get NaN-fillable floats
        "bigint": np.dtype("float64"),
        "smallint": np.dtype("float64"),
        "tinyint": np.dtype("float64"),
        "boolean": np.dtype("object"),
        "string": np.dtype("object"),
    }
    if dt.startswith("timestamp"):
        return np.dtype("datetime64[us]")
    return mapping.get(dt, np.dtype("float64"))


class QueryBackedVar:
    """Lazy N-D array over a (persisted) Spark DataFrame: each block access
    re-runs the inner plan with an indexer-derived filter + projection and
    scatters the returned rows (reference SQLBackendArray, ds.py:210-376).
    OUTER-indexing semantics: per-dim membership filters."""

    def __init__(self, df: DataFrame, dims, coords, column, shape, dtype, fill_value=None):
        self._df = df
        self._dims = dims
        self._coords = coords
        self._column = column
        self.shape = tuple(shape)
        self.dtype = np.dtype(dtype)
        self.fill_value = fill_value

    def read_block(self, slices: tuple) -> np.ndarray:
        from pyspark.sql import functions as F

        sel_coords = {}
        conds = None
        for d, sl in zip(self._dims, slices):
            vals = self._coords[d][sl]
            sel_coords[d] = np.atleast_1d(vals)
            c = F.col(d).isin([_py(v) for v in np.atleast_1d(vals).tolist()])
            conds = c if conds is None else (conds & c)
        q = self._df
        if conds is not None:
            q = q.filter(conds)
        pdf = q.select(*self._dims, self._column).toPandas()

        shape = tuple(len(sel_coords[d]) for d in self._dims)
        if self.fill_value is not None:
            fv = self.fill_value
        else:
            fv = np.nan if self.dtype.kind == "f" else (
                np.datetime64("NaT") if self.dtype.kind == "M" else None
            )
        dense = (
            np.full(shape, fv, dtype=self.dtype)
            if fv is not None
            else np.full(shape, None, dtype=object)
        )
        flat = np.zeros(len(pdf), dtype=np.int64)
        stride = 1
        valid = np.ones(len(pdf), dtype=bool)
        for k in range(len(self._dims) - 1, -1, -1):
            d = self._dims[k]
            lookup = {v: i for i, v in enumerate(sel_coords[d].tolist())}
            code = pdf[d].map(lambda v: lookup.get(_norm(v), -1)).to_numpy(dtype=np.int64)
            valid &= code >= 0
            flat += np.where(code >= 0, code, 0) * stride
            stride *= shape[k]
        dense.ravel()[flat[valid]] = pdf[self._column].to_numpy()[valid]
        return dense


def _py(v):
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.datetime64):
        return v.astype("datetime64[us]").item()
    return v


def _norm(v):
    import pandas as pd_

    if isinstance(v, pd_.Timestamp):
        return np.datetime64(v.to_datetime64(), "us").item()
    return v


def _reindex_to_template(out: Dataset, tmpl: Dataset, dims, fill_value) -> Dataset:
    """Scatter the result grid onto the template's full coordinate grid."""
    idx_per_dim = []
    for d in dims:
        tcoord = tmpl.coords[d]
        lookup = {v: i for i, v in enumerate(tcoord.tolist())}
        idx = np.array([lookup[v] for v in out.coords[d].tolist()], dtype=np.int64)
        idx_per_dim.append(idx)
    shape = tuple(len(tmpl.coords[d]) for d in dims)
    data_vars = {}
    for name, var in out.data_vars.items():
        vals = var.values()
        dtype = vals.dtype
        fv = fill_value
        if fv is None:
            if dtype.kind in "iu":
                vals = vals.astype(np.float64)
                dtype = vals.dtype
            fv = np.nan if dtype.kind == "f" else (np.datetime64("NaT") if dtype.kind == "M" else None)
        dense = (
            np.full(shape, fv, dtype=dtype)
            if fv is not None
            else np.full(shape, None, dtype=object)
        )
        dense[np.ix_(*idx_per_dim)] = vals
        data_vars[name] = Variable(tuple(dims), dense)
    coords = {d: np.asarray(tmpl.coords[d]) for d in dims}
    return Dataset(data_vars, coords, dict(out.attrs))


def _recover_metadata(out: Dataset, tmpl: Dataset) -> None:
    """Re-attach template attrs/encoding/non-dim coords (reference
    ds.py:72-147); aggregation aliases (columns unknown to the template)
    inherit nothing."""
    out.attrs.update(tmpl.attrs)
    for name, var in out.data_vars.items():
        if name in tmpl.data_vars:
            t = tmpl.data_vars[name]
            var.attrs = dict(t.attrs)
            var.encoding = {
                k: v for k, v in t.encoding.items() if k not in _DTYPE_BOUND_ENCODING
            }
    present = set(out.sizes)
    for name, var in tmpl.extra_coords.items():
        if set(var.dims) <= present:
            out.extra_coords[name] = var
