"""XarraySession: registration/catalog layer over a SparkSession
(reference sql.py:12-191 ``XarrayContext``).

- ``from_dataset(name, ds, chunks=...)``: uniform-dims datasets register as
  one table; mixed-dims datasets split into one table per dims-group under
  the namespace ``name`` (reference sql.py:181-191), default table names
  ``"_".join(dims)`` overridable via ``table_names``; 0-d variables become a
  one-row ``scalar`` table (reference sql.py:112, tests/test_sql.py:415-456).
- Spark temp views cannot contain dots, so ``era5.surface`` is stored as the
  view ``era5__surface``; :meth:`sql` rewrites qualified references for
  registered dataset names before parsing, keeping the reference's SQL
  surface (tests/test_sql.py:405-477).
- Registered Datasets are tracked in ``_registered_datasets`` — the template
  registry powering the reverse pivot (reference sql.py:15-23).
- Aggregate shortcuts (``metadata_aggregates``, on by default): one plan
  walk (``plans.introspect.aggregate_spec``) classifies an aggregate over
  one grid scan, under any ORDER BY / HAVING that reads only its outputs.
  A global MIN/MAX/COUNT of dims is answered from the coordinates with no
  job. A GROUP BY of dims or datetime fields of a time dim, with
  SUM/AVG/MIN/MAX/COUNT of float variables or of ``+ - *`` / unary minus /
  literal / cast-to-double / divide-by-nonzero-literal expressions of
  them, runs as a partial-aggregate scan: the reader reduces each block in
  numpy, Catalyst merges the groups, and the ORDER BY / HAVING run over
  the merged groups. An aggregate over an inner equi-join of a grid scan
  with such an aggregate, keyed exactly by the join keys, runs as a dense
  lookup join: ``sql()`` itself runs the small side (a job, before any
  action) and ships its values in the big side's partial scan, whose
  reader gathers them per cell. Anything else runs the engine's plan:
  outer joins, extra join conditions, duplicate small-side keys, raw-scan
  small sides, a key space over ``spark.sql.autoBroadcastJoinThreshold``
  (or -1), LIMIT, other functions, integer variables, data-variable
  filters.
- Every scan registered here carries the session's core count and split
  size, so its chunk blocks are packed by the bytes of the cells they
  keep with Spark's own split rule (grid_source): a full scan runs as
  about one task per core, a small filtered read as one task.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import math
import os
import pickle
import re
import shutil
import tempfile
import uuid
from typing import Mapping, NamedTuple

import numpy as np
import pyarrow as pa

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from xarray_sql_spark.bounds import dim_masks
from xarray_sql_spark.dataset import Dataset
from xarray_sql_spark.pivot import DEFAULT_BATCH_SIZE
from xarray_sql_spark.sources.grid_source import (
    FORMAT_NAME, GridDataSource, make_payload, spark_schema,
)


def _join_key_values(values: np.ndarray, kind: str) -> np.ndarray:
    """Join-key values in one comparable domain: a datetime field of
    datetimes as int64, datetimes as microseconds (the pivot's precision),
    floats as float64 with -0.0 folded into 0.0 (as Spark's
    normalizenanandzero does; NaN keys never get here)."""
    from xarray_sql_spark.sources.partials import datetime_field

    if kind != "col":
        return datetime_field(values, kind).astype(np.int64)
    if values.dtype.kind == "M":
        return values.astype("datetime64[us]").astype(np.int64)
    if values.dtype.kind == "f":
        return values.astype(np.float64) + 0.0
    return values.astype(np.int64)


def _dim_coords(ds: Dataset, dims) -> dict[str, np.ndarray]:
    """The coordinate arrays of ``dims`` that have one."""
    return {d: ds.coords[d] for d in dims if d in ds.coords}


class _Table(NamedTuple):
    """A registered grid table: its view, registration kwargs, full scan,
    dataset name (the pure-scan identity, A12) and full Arrow schema."""

    view: str
    kwargs: dict
    df: DataFrame
    dataset: str
    arrow_schema: pa.Schema


def _group_vars_by_dims(ds: Dataset) -> dict[tuple[str, ...], list[str]]:
    groups: dict[tuple[str, ...], list[str]] = {}
    for name, var in ds.data_vars.items():
        groups.setdefault(tuple(var.dims), []).append(name)
    return groups


class XarraySession:
    def __init__(self, spark: SparkSession | None = None):
        if spark is None:
            # Reference-parity ergonomics: the reference's XarrayContext()
            # takes no engine handle (reference sql.py) — when none is
            # given, attach to the active session or build the tuned local
            # default so ``XarrayContext(); ctx.from_dataset(...)`` works
            # verbatim after an import switch.
            from xarray_sql_spark.session import get_spark

            spark = SparkSession.getActiveSession() or get_spark()
        self.spark = spark
        # Python DS filter pushdown is opt-in; without it partitions() never
        # sees the predicates and every query is a full scan.
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        try:
            spark.dataSource.register(GridDataSource)
        except Exception:
            pass  # already registered on this session
        self._registered_datasets: dict[str, Dataset] = {}
        self._registered_chunks: dict[str, dict] = {}
        self._tables: dict[str, list[str]] = {}  # dataset name -> view names
        self._tmpdir = tempfile.mkdtemp(prefix="xgrid_")
        # Removed at exit, not with the session: read_xarray_table drops its
        # session while the DataFrame it returns still plans against these.
        atexit.register(shutil.rmtree, self._tmpdir, ignore_errors=True)
        # payload path -> registered table; every scan of a table reads its
        # one payload, so the path is also the dataset identity behind the
        # pure-scan coordinate fast path (A12)
        self._payload_views: dict[str, _Table] = {}
        # (view, derived-scan key) -> pruned or partial-aggregate scan
        self._pruned_cache: dict[tuple[str, tuple], DataFrame] = {}
        # Aggregate shortcuts (A4 statistics and leaf partial aggregation):
        # on by default; tests that pin the cell SCAN path (pruning goldens)
        # turn it off to force the engine's plan.
        self.metadata_aggregates = True
        # store path -> (metadata fingerprint, coords-only Dataset)
        self._meta_ds_cache: dict[str, tuple] = {}

    # -- registration ------------------------------------------------------
    def from_dataset(
        self,
        name: str,
        ds: Dataset,
        chunks: Mapping[str, int] | None = None,
        table_names: Mapping[tuple, str] | None = None,
        batch_size: int = DEFAULT_BATCH_SIZE,
        store: str | None = None,
        read_log_dir: str | None = None,
    ) -> None:
        ds = self._apply_cf_time(ds)
        groups = _group_vars_by_dims(ds)
        table_names = dict(table_names or {})
        views: list[str] = []
        self._forget_views(self._tables.get(name, []))

        scalar_vars = [v for dims, vs in groups.items() if dims == () for v in vs]
        nd_groups = {dims: vs for dims, vs in groups.items() if dims != ()}

        single = len(nd_groups) == 1 and not scalar_vars
        for dims, var_names in nd_groups.items():
            view = name if single else f"{name}__{table_names.get(dims, '_'.join(dims))}"
            self._register_table(view, name, ds, var_names, chunks, batch_size, store, read_log_dir)
            views.append(view)
        if scalar_vars:
            view = f"{name}__scalar"
            row = {v: ds.data_vars[v].values().item() for v in scalar_vars}
            self.spark.createDataFrame([row]).createOrReplaceTempView(view)
            views.append(view)

        # Re-registering under the same name with a different dims-group
        # structure must drop the previous registration's group views, or
        # stale views keep serving the OLD dataset's data silently.
        for old in self._tables.get(name, []):
            if old not in views:
                try:
                    self.spark.catalog.dropTempView(old)
                except Exception:
                    pass
        self._registered_datasets[name] = ds
        self._registered_chunks[name] = dict(chunks) if chunks else {}
        self._tables[name] = views

    def _apply_cf_time(self, ds: Dataset) -> Dataset:
        """CF-calendar bridge at registration (reference sql.py:150-157 +
        cftime.py): Gregorian-like offset coords decode to timestamp(us)
        columns; non-Gregorian ones stay int64 with xarray:units/calendar
        field metadata and get the ``cftime()`` UDF registered."""
        from xarray_sql_spark.functions.cftime import (
            decode_to_timestamps,
            is_gregorian_like,
            make_cftime_udf,
        )

        touched = False
        new_coords = dict(ds.coords)
        new_attrs = {k: dict(v) for k, v in ds.coord_attrs.items()}
        for d, attrs in ds.coord_attrs.items():
            units = attrs.get("units", "")
            cal = attrs.get("calendar", "standard")
            if "since" not in str(units) or ds.coords[d].dtype.kind not in "iu":
                continue
            if is_gregorian_like(cal):
                new_coords[d] = decode_to_timestamps(ds.coords[d], units, cal)
                new_attrs[d] = {
                    k: v for k, v in attrs.items() if k not in ("units", "calendar")
                }
            else:
                new_attrs[d] = {
                    **{k: v for k, v in attrs.items() if k not in ("units", "calendar")},
                    "xarray:units": units,
                    "xarray:calendar": cal,
                }
                self.spark.udf.register("cftime", make_cftime_udf(units, cal))
            touched = True
        if not touched:
            return ds
        out = Dataset(ds.data_vars, new_coords, dict(ds.attrs), dict(ds.extra_coords))
        out.coord_attrs = new_attrs
        return out

    def _register_table(
        self,
        view: str,
        name: str,
        ds: Dataset,
        var_names: list[str],
        chunks,
        batch_size: int,
        store: str | None,
        read_log_dir: str | None,
    ) -> None:
        kwargs = dict(
            dataset=None if store else ds,
            store=store,
            chunks=dict(chunks) if chunks else None,
            batch_size=batch_size,
            read_log_dir=read_log_dir,
            var_names=var_names,
        )
        self._forget_views([view])  # another dataset's view of that name
        payload = make_payload(**kwargs)
        # Capture session facts at registration time: the DataSource plans
        # in a separate Python worker with no session handle. String-dim
        # pruning masks are only sound under binary collation
        # (bounds.py); the core count and split size drive block packing.
        payload["binary_collation"] = self._binary_collation()
        payload["cores"] = self.spark.sparkContext.defaultParallelism
        payload["max_partition_bytes"] = int(
            self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
        # a fresh name per table: the path is the table's identity (two
        # registrations of equal data are two tables)
        path = os.path.join(self._tmpdir, f"payload_{uuid.uuid4().hex}.pkl")
        with open(path, "wb") as f:
            pickle.dump(payload, f)
        df = self._read(path, spark_schema(payload["arrow_schema"]))
        df.createOrReplaceTempView(view)
        self._payload_views[path] = _Table(view, kwargs, df, name, payload["arrow_schema"])

    def _aggregate_file(self, aggregate: dict) -> str:
        """``aggregate`` pickled into the session's directory, in a file
        named by its bytes: equal aggregates (the same lookup join run
        again) share one file."""
        data = pickle.dumps(aggregate)
        path = os.path.join(self._tmpdir, f"aggregate_{hashlib.sha256(data).hexdigest()}.pkl")
        if not os.path.exists(path):
            # written under a temporary name and renamed, so the name only
            # ever holds a complete file
            fd, tmp = tempfile.mkstemp(dir=self._tmpdir, suffix=".part")
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        return path

    def _read(self, path: str, schema: StructType, aggregate: dict | None = None) -> DataFrame:
        """A scan of the payload at ``path`` through ``schema``; given the
        schema, ``load()`` makes no planner call. ``aggregate`` makes it a
        partial-aggregate scan (sources/partials.py)."""
        reader = self.spark.read.format(FORMAT_NAME).option("payload", path).schema(schema)
        if aggregate is not None:
            reader = reader.option("aggregate", self._aggregate_file(aggregate))
        return reader.load()

    def _forget_views(self, views) -> None:
        """Drop every scan the session derived from ``views``: their payload
        entries and their cached pruned and partial scans. A view
        re-registered without this would keep re-planning (projection
        pushdown, aggregate shortcuts) and validating pure scans against
        the PREVIOUS dataset's data."""
        views = set(views)
        self._payload_views = {p: t for p, t in self._payload_views.items() if t.view not in views}
        self._pruned_cache = {k: df for k, df in self._pruned_cache.items() if k[0] not in views}

    def _binary_collation(self) -> bool:
        """True when the session's default string collation compares by
        code point (Spark's default UTF8_BINARY) — the soundness gate for
        both string-dim pruning and the string metadata-aggregate paths."""
        try:
            coll = self.spark.conf.get(
                "spark.sql.session.collation.default", "UTF8_BINARY"
            )
        except Exception:
            coll = "UTF8_BINARY"
        return (coll or "UTF8_BINARY").upper() == "UTF8_BINARY"

    # -- projection pushdown to storage (A3) -------------------------------
    # Spark 4.1 does not column-prune Python data sources (the scan's
    # ReadSchema stays full with a Project above). Compensation, per
    # SURVEY.md §4: analyze the optimized plan (plans/introspect.py), and
    # for every grid scan that uses a strict subset of its columns, swap in
    # a read of its payload through the narrower schema and re-plan the
    # query. View swaps are safe because Spark binds views at analysis
    # time — they are restored immediately after re-planning.
    def _with_projection_pushdown(self, df: DataFrame, q: str, args) -> DataFrame:
        from xarray_sql_spark.plans.introspect import referenced_scan_columns

        try:
            needed = referenced_scan_columns(df, self._payload_views)
        except Exception:
            return df  # fail open: correct, just unpruned
        swaps: list[_Table] = []
        for path, cols in needed.items():
            table = self._payload_views[path]
            fields = table.df.schema.fields
            # the optimized plan can drop a column the text names
            # (count(lat) of a non-null lat is count(1)); the re-plan of the
            # text must still resolve it
            cols = cols | self._named_in(q, [f.name for f in fields])
            if cols >= {f.name for f in fields}:
                continue
            key = (table.view, tuple(sorted(cols)))
            if key not in self._pruned_cache:
                # COUNT(*)-style: one cheap dim column
                keep = [f for f in fields if f.name in cols] or fields[:1]
                self._pruned_cache[key] = self._read(path, StructType(keep))
            swaps.append(table)
            self._pruned_cache[key].createOrReplaceTempView(table.view)
        if not swaps:
            return df
        try:
            return self.spark.sql(q, args=args) if args else self.spark.sql(q)
        except AnalysisException:
            # backstop: the text already analysed against the full views
            return df
        finally:
            for table in swaps:
                table.df.createOrReplaceTempView(table.view)

    # -- statistics aggregates (A4 extension) ------------------------------
    # DataFusion answers COUNT(*) (and could min/max) from exact scan
    # statistics; a Python data source can't hand Catalyst statistics, so
    # the session compensates: a global MIN/MAX/COUNT-only aggregate over
    # one unfiltered grid scan's DIM columns is answered straight from the
    # driver-known coordinate arrays — zero jobs, zero chunk reads.
    @staticmethod
    def _store_meta_fingerprint(store: str) -> tuple:
        """(name, mtime_ns, size) of every metadata JSON in the store —
        a few stats, no reads. Zarr appends commit by REWRITING array
        metadata (shape last), so any append changes this fingerprint.
        Contract: mutations that leave every metadata file untouched
        (an in-place rewrite of a committed chunk file) are outside
        Zarr's append-commit model and are not detected — the same
        assumption the streaming source's offset tracking makes."""
        out = []
        for rel in (".zmetadata", ".zgroup", "zarr.json"):
            p = os.path.join(store, rel)
            if os.path.isfile(p):
                s = os.stat(p)
                out.append((rel, s.st_mtime_ns, s.st_size))
        try:
            entries = sorted(os.scandir(store), key=lambda e: e.name)
        except OSError:
            return tuple(out)
        for e in entries:
            if not e.is_dir():
                continue
            for rel in (".zarray", ".zattrs", "zarr.json"):
                p = os.path.join(e.path, rel)
                if os.path.isfile(p):
                    s = os.stat(p)
                    out.append((f"{e.name}/{rel}", s.st_mtime_ns, s.st_size))
        return tuple(out)

    def _open_table_meta(self, kwargs: dict):
        """(dataset, dims) for a registered table's payload kwargs —
        metadata + coordinate arrays only, never a data chunk. Shared by
        scan_stats and the statistics-aggregate shortcut. Store-backed
        opens are cached against a metadata-file fingerprint so repeated
        interactive stats queries don't re-decompress coordinate chunks;
        an append rewrites array metadata and invalidates the entry."""
        ds = kwargs["dataset"]
        if ds is None:
            store = kwargs["store"]
            fp = self._store_meta_fingerprint(store)
            cached = self._meta_ds_cache.get(store)
            if cached is not None and cached[0] == fp:
                ds = cached[1]
            else:
                ds = Dataset.open_store(store)
                self._meta_ds_cache[store] = (fp, ds)  # one entry per store
        var_names = kwargs.get("var_names") or list(ds.data_vars)
        return ds, tuple(ds.data_vars[var_names[0]].dims)

    def _with_metadata_aggregates(self, df: DataFrame) -> DataFrame | None:
        """The aggregate shortcuts: answer ``df`` from coordinate metadata
        alone, else by partial aggregation in the reader, else None (run
        the engine). Fail open like the projection-pushdown pass: any
        surprise here (a dim with no coordinate array, py4j/Arrow
        conversion issues) must mean "run the engine", never a query
        error."""
        try:
            return self._aggregate_shortcut(df)
        except Exception:
            return None

    def _aggregate_shortcut(self, df: DataFrame) -> DataFrame | None:
        from xarray_sql_spark.plans.introspect import metadata_aggregate_spec

        spec = metadata_aggregate_spec(df, self._payload_views)
        if spec is None:
            return None
        ds, dims = self._open_table_meta(self._payload_views[spec.payload].kwargs)
        masks = self._dim_masks(ds, dims, spec.preds)
        if masks is None:
            return None
        if (
            spec.lookup is None
            and not spec.above
            and not spec.keys
            and spec.select == tuple(range(len(spec.outputs)))
            and all(
                fn in ("min", "max", "count", "count_star") and (arg is None or arg in dims)
                for fn, arg in spec.outputs
            )
        ):
            return self._metadata_aggregates_df(df, spec, ds, dims, masks)
        lookup = None
        if spec.lookup is not None:
            lookup = self._lookup_arrays(spec, ds, dims)
            if lookup is None:
                return None
        merged = self._merged_aggregate(spec, ds, dims, masks, lookup)
        return None if merged is None else self._select_as(merged, spec.select, df.schema)

    def _dim_masks(self, ds: Dataset, dims, preds) -> dict[str, np.ndarray] | None:
        """Per-dim boolean masks of the filter conjuncts (no conjunct on a
        dim: no mask), or None if any conjunct can't be mirrored exactly
        (bounds.dim_masks)."""
        masks, mirrored = dim_masks(_dim_coords(ds, dims), preds, self._binary_collation())
        return masks if all(mirrored) else None

    def _metadata_aggregates_df(self, df, spec, ds, dims, masks) -> DataFrame | None:
        """A global MIN/MAX/COUNT over dim columns, from the coordinates."""
        out_names = [f.name for f in df.schema.fields]
        if len(set(out_names)) != len(out_names):
            return None  # duplicate output aliases: dict keying would collapse

        def cells(masks):
            # ds.sizes covers implicit (coordless) dims too
            return math.prod(int(masks[d].sum()) if d in masks else ds.sizes[d] for d in dims)

        total = cells(masks)
        values: dict[str, object] = {}
        for out_name, (kind, col) in zip(out_names, spec.outputs):
            if kind == "count_star":
                values[out_name] = total
                continue
            if kind == "count":
                # COUNT(dim) excludes NULL rows: NaT/NaN coords pivot to SQL
                # NULL, so count the filter with a NOT NULL on the column
                # (which the fold may skip only on dims holding no NULL)
                values[out_name] = cells(dim_masks(
                    _dim_coords(ds, dims),
                    spec.preds + ((("col", col), "notnull", ()),),
                    self._binary_collation(),
                )[0])
                continue
            if total == 0:
                values[out_name] = None  # SQL MIN/MAX over zero rows
                continue
            if col not in ds.coords:
                return None  # implicit positional dim: engine synthesizes it
            coords = np.asarray(ds.coords[col])
            if coords.size == 0 or (
                coords.dtype.kind == "f" and np.isnan(coords).any()
            ):
                return None  # empty/NaN coord ordering: let the engine decide
            if coords.dtype.kind in "Mm" and np.isnat(coords).any():
                return None  # NaT pivots to NULL; numpy min/max would return NaT
            if coords.dtype.kind in "US" and not self._binary_collation():
                return None  # MIN/MAX ordering is collation-dependent
            if col in masks:
                # total > 0 implies every dim's mask is non-empty, so the
                # filtered cross-product's extremes ARE the masked extremes
                coords = coords[masks[col]]
            values[out_name] = coords.min() if kind == "min" else coords.max()
        import pandas as pd

        pdf = pd.DataFrame({k: [v] for k, v in values.items()})
        pdf = pdf[out_names]
        return self.spark.createDataFrame(pdf, schema=df.schema)

    # -- leaf partial aggregation (Dremel's serving tree) ------------------
    # An aggregate over dim keys (or datetime fields of a time dim) of
    # SUM/AVG/MIN/MAX/COUNT over expressions of float variables: the reader
    # reduces each block to one row per group in numpy (sources/partials.py)
    # and Catalyst merges the partials, so groups, not cells, cross the
    # Python->JVM boundary; HAVING and ORDER BY then run over the merged
    # groups. The partial scan is cached per (view, spec, store metadata);
    # the merge is a fresh DataFrame per sql() call, so every query re-reads
    # the source.
    def _merged_aggregate(
        self, spec, ds, dims, masks, lookup: dict | None = None
    ) -> DataFrame | None:
        """Output ``i`` of ``spec``'s Aggregate node as column ``_a{i}``,
        merged from a partial scan, with the Filter and Sort nodes above it
        applied; None when the reader cannot answer ``spec``. ``lookup``
        (:meth:`_lookup_arrays`) makes the scan a dense lookup join."""
        from pyspark.sql import functions as F

        from xarray_sql_spark.sources import partials

        for kind, col in spec.keys:
            if col not in dims:
                return None
            if col not in ds.coords:
                if kind != "col":
                    return None
                continue  # implicit positional dim: the reader synthesizes it
            c = np.asarray(ds.coords[col])
            if kind != "col" and c.dtype.kind != "M":
                return None
            if (c.dtype.kind in "Mm" and np.isnat(c).any()) or (
                c.dtype.kind == "f" and np.isnan(c).any()
            ):
                return None  # NULL keys: let the engine group them
            if c.dtype.kind in "USO" and not self._binary_collation():
                return None  # string grouping is collation-dependent
        table = self._payload_views[spec.payload]
        var_names = table.kwargs.get("var_names") or list(ds.data_vars)

        def is_float(v):
            return v in var_names and np.dtype(ds.data_vars[v].dtype).kind == "f"

        stats: dict = {}  # expression tree -> extra stats
        trees = []
        for fn, arg in spec.outputs:
            tree = arg
            if fn in ("key", "count_star"):
                tree = None
            elif isinstance(arg, str):
                if not is_float(arg):
                    return None  # a dim, or an integer/other variable
                wide = np.dtype(ds.data_vars[arg].dtype).itemsize == 8
                tree = ("var", "float64" if wide else "float32", arg)
            elif not all(is_float(v) for v in partials.tree_leaves(arg, "var")):
                return None
            if tree is not None:
                extra = stats.setdefault(tree, set())
                if fn in ("min", "max"):
                    extra.add(fn)
            trees.append(tree)
        fields = StructType.fromJson(json.loads(spec.schema)).fields
        key_nullable = [False] * len(spec.keys)
        for (fn, arg), f in zip(spec.outputs, fields):
            if fn == "key":
                key_nullable[arg] = key_nullable[arg] or f.nullable
        agg = {
            "keys": list(spec.keys),
            "key_nullable": key_nullable,
            "stats": [(t, sorted(e)) for t, e in stats.items()],
            "rows": any(fn == "count_star" for fn, _a in spec.outputs),
            "masks": masks,
            "lookup": lookup,
        }
        schema = spark_schema(partials.partial_schema(table.arrow_schema, agg))
        if lookup is not None:
            # the small side's values are data: a fresh scan per query
            partial = self._read(spec.payload, schema, agg)
        else:
            store = table.kwargs["store"]
            key = (
                table.view,
                ("aggregate", spec.keys, tuple(key_nullable),
                 tuple((t, tuple(e)) for t, e in agg["stats"]), agg["rows"], spec.preds,
                 self._store_meta_fingerprint(store) if store else None),
            )
            if key not in self._pruned_cache:
                self._pruned_cache[key] = self._read(spec.payload, schema, agg)
            partial = self._pruned_cache[key]

        # The merge is spelled in SQL text: pyspark wraps every Column
        # method to capture the Python call site, and the first such call
        # imports IPython into the driver (about 20 MB) when it is installed.
        stat_idx = {t: j for j, (t, _e) in enumerate(agg["stats"])}
        merged = []
        for (fn, arg), tree, f in zip(spec.outputs, trees, fields):
            j = stat_idx.get(tree)
            e = f"_k{arg}" if fn == "key" else {
                "count_star": "coalesce(sum(_rows), 0)",
                "count": f"coalesce(sum(_n{j}), 0)",
                # a group with no valid value is SQL NULL, even under ANSI
                "sum": f"CASE WHEN sum(_n{j}) > 0 THEN sum(_s{j}) END",
                "avg": f"CASE WHEN sum(_n{j}) > 0 THEN sum(_s{j}) / sum(_n{j}) END",
                "min": f"min(_mn{j})",
                "max": f"max(_mx{j})",
            }[fn]
            merged.append(F.expr(f"CAST({e} AS {f.dataType.simpleString()}) AS _a{len(merged)}"))
        keys = [f"_k{i}" for i in range(len(spec.keys))]
        out = partial.groupBy(*keys).agg(*merged)
        for op, arg in spec.above:
            out = out.filter(arg) if op == "filter" else self._sorted(out, arg)
        return out

    def _jcols(self, df: DataFrame, method: str, jcols) -> DataFrame:
        """``df.<method>(jcols)`` over JVM columns: the Column-free
        spelling (see the merge above) of a sort or a select."""
        from pyspark.sql.classic.column import _to_seq

        return DataFrame(
            getattr(df._jdf, method)(_to_seq(self.spark.sparkContext, jcols)), self.spark
        )

    def _sorted(self, df: DataFrame, orders) -> DataFrame:
        """``df`` ordered by ``(sql, "ASC"|"DESC", "NULLS FIRST"|"NULLS LAST")`` keys."""
        fns = self.spark._jvm.org.apache.spark.sql.functions
        return self._jcols(df, "sort", [
            getattr(fns.expr(sql), f"{d}_{n.replace(' ', '_')}".lower())()
            for sql, d, n in orders
        ])

    def _select_as(self, merged: DataFrame, select, schema) -> DataFrame | None:
        """Result column ``j`` as ``_a{select[j]}``, named and annotated as
        ``schema``'s field ``j``; None unless the result's schema then
        equals ``schema``, nullability and metadata included."""
        # one py4j lookup per class: each dotted step of a JVM path is a
        # round trip
        col = self.spark._jvm.org.apache.spark.sql.functions.col
        metadata = self.spark._jvm.org.apache.spark.sql.types.Metadata.fromJson
        out = self._jcols(merged, "select", [
            getattr(col(f"_a{i}"), "as")(f.name, metadata(json.dumps(f.metadata)))
            for i, f in zip(select, schema.fields)
        ])

        def shape(s):
            return [(f.name, f.dataType, f.nullable, f.metadata) for f in s.fields]

        return out if shape(out.schema) == shape(schema) else None

    # -- dense lookup joins (F1 Query's lookup join) -----------------------
    # An aggregate over an inner equi-join of a grid scan with a small
    # aggregate keyed exactly by the join keys: sql() runs the small side
    # first (itself a partial aggregate), collects it as Arrow and scatters
    # it into dense arrays indexed by key position, bounded from the big
    # side's coordinates by spark.sql.autoBroadcastJoinThreshold. The big
    # side's reader then gathers the small side's values per cell, drops
    # cells without a match, and emits partial aggregates as above.
    def _lookup_arrays(self, spec, ds, dims) -> dict | None:
        """The ``lookup`` entry of ``spec``'s partial scan (see
        sources/partials.py), or None to run the engine."""
        from xarray_sql_spark.sources.partials import tree_leaves

        lk = spec.lookup
        per_key = []  # (dim, key position per coordinate, key values)
        for kind, dim in (k for k, _i in lk.keys):
            if dim not in dims or dim not in ds.coords:
                return None
            c = np.asarray(ds.coords[dim])
            if c.dtype.kind not in "iufM" or (kind != "col" and c.dtype.kind != "M"):
                return None
            if (c.dtype.kind == "f" and np.isnan(c).any()) or (
                c.dtype.kind == "M" and np.isnat(c).any()
            ):
                return None
            uniq, inv = np.unique(_join_key_values(c, kind), return_inverse=True)
            per_key.append((dim, inv.reshape(-1), uniq))
        shape = tuple(len(u) for _d, _i, u in per_key)
        size = int(np.prod(shape))
        looks = sorted({
            i for _fn, arg in spec.outputs if isinstance(arg, tuple)
            for i in tree_leaves(arg, "look")
        })
        threshold = self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        if threshold < 0 or size * max(len(looks), 1) * 8 > threshold:
            return None

        small = lk.small
        sds, sdims = self._open_table_meta(self._payload_views[small.payload].kwargs)
        smasks = self._dim_masks(sds, sdims, small.preds)
        if smasks is None:
            return None
        merged = self._merged_aggregate(small, sds, sdims, smasks)
        if merged is None:
            return None
        key_out = [small.outputs.index(("key", k)) for _b, k in lk.keys]
        table = merged.toArrow()

        # each small-side row's position in the dense key space (C order)
        flat = np.zeros(table.num_rows, dtype=np.int64)
        hit = np.ones(table.num_rows, dtype=bool)
        for (_d, _inv, uniq), i in zip(per_key, key_out):
            v = _join_key_values(table.column(f"_a{i}").to_numpy(), "col")
            j = np.minimum(np.searchsorted(uniq, v), len(uniq) - 1)
            hit &= uniq[j] == v  # a key no coordinate takes matches no cell
            flat = flat * len(uniq) + j
        flat = flat[hit]
        present = np.zeros(size, dtype=bool)
        present[flat] = True
        if int(present.sum()) != len(flat):
            return None  # two rows on one key position
        columns = {}
        for i in looks:
            col = table.column(f"_a{i}")
            values, nulls = np.zeros(size), np.ones(size, dtype=bool)
            values[flat] = col.fill_null(0).to_numpy().astype(np.float64)[hit]
            nulls[flat] = col.is_null().to_numpy()[hit]
            columns[i] = (values, nulls)
        offsets: dict[str, np.ndarray] = {}
        strides = np.cumprod((shape + (1,))[:0:-1])[::-1]  # C order
        for (dim, inv, _u), stride in zip(per_key, strides):
            offsets[dim] = offsets.get(dim, 0) + inv.astype(np.int64) * int(stride)
        return {"offsets": offsets, "present": present, "columns": columns}

    # -- query surface -----------------------------------------------------
    @staticmethod
    def _string_spans(query: str) -> list[tuple[int, int]]:
        """Half-open spans of single-quoted SQL string literals (with ''
        escapes) — regions every textual rewrite must leave untouched."""
        spans: list[tuple[int, int]] = []
        i, n = 0, len(query)
        while i < n:
            if query[i] == "'":
                j = i + 1
                while j < n:
                    if query[j] == "'":
                        if j + 1 < n and query[j + 1] == "'":
                            j += 2
                            continue
                        break
                    j += 1
                spans.append((i, j + 1))
                i = j + 1
            else:
                i += 1
        return spans

    @classmethod
    def _outside_strings(cls, query: str):
        """Whether a position of ``query`` lies outside its string literals."""
        spans = cls._string_spans(query)
        return lambda pos: not any(a < pos < b for a, b in spans)

    @classmethod
    def _named_in(cls, query: str, names) -> set[str]:
        """The ``names`` that ``query`` spells outside its string literals,
        case-insensitively (as Spark resolves them)."""
        outside = cls._outside_strings(query)
        return {
            n for n in names
            for m in re.finditer(rf"(?<!\w){re.escape(n)}(?!\w)", query, re.IGNORECASE)
            if outside(m.start())
        }

    def _rewrite(self, query: str) -> str:
        """Rewrite ``name.table`` -> ``name__table`` for registered
        namespaced datasets (temp views cannot be schema-qualified).
        Quoted string literals are never rewritten — ``'era5.surface'``
        stays a literal (round-2 ADVICE: the raw regex corrupted it)."""
        outside = self._outside_strings(query)
        for name, views in self._tables.items():
            if any(v.startswith(f"{name}__") for v in views):
                query = re.sub(
                    rf"\b{re.escape(name)}\.(\w+)",
                    lambda m: f"{name}__{m.group(1)}" if outside(m.start()) else m.group(0),
                    query,
                )
        return query

    # OR-of-equalities -> IN compensation (reference prunes through OR/IN
    # trees, src/lib.rs:340-423; Spark's Python-DS pushFilters delivers only
    # conjunctive simple predicates, so ``WHERE t = a OR t = b`` reaches
    # partitions() as nothing and full-scans). Rewriting the chain to
    # ``t IN (a, b)`` before planning is semantics-preserving (identical
    # three-valued logic) and turns the predicate into the In filter that
    # bounds.py already prunes on.
    _SQL_LIT = (
        r"(?:TIMESTAMP\s+'[^']*'|DATE\s+'[^']*'|'(?:[^']|'')*'"
        r"|[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
    )
    _OR_CHAIN = re.compile(
        rf"\b(\w+)\s*=\s*{_SQL_LIT}(?:\s+OR\s+\1\s*=\s*{_SQL_LIT})+",
        re.IGNORECASE,
    )
    _CHAIN_LIT = re.compile(rf"=\s*({_SQL_LIT})", re.IGNORECASE)
    # A chain is only rewritten when its precedence context makes the whole
    # OR-expression self-contained: AND binds tighter than OR, so a chain
    # touching an AND on either side is part of a larger conjunct and is
    # left alone (conservative keep — pruning is an optimization).
    _OK_BEFORE = re.compile(r"(?:\(|\bWHERE|\bHAVING|\bWHEN|\bON|\bOR)\s*$|^\s*$", re.IGNORECASE)
    _OK_AFTER = re.compile(
        r"^\s*(?:\)|\bOR\b|\bORDER\b|\bGROUP\b|\bLIMIT\b|\bTHEN\b|\bELSE\b|\bEND\b|\bUNION\b|\bEXCEPT\b|\bINTERSECT\b|;|$)",
        re.IGNORECASE,
    )

    def _or_to_in(self, query: str) -> str:
        outside = self._outside_strings(query)
        out: list[str] = []
        last = 0
        for m in self._OR_CHAIN.finditer(query):
            if m.start() < last or not outside(m.start()):
                continue
            if not self._OK_BEFORE.search(query[: m.start()]):
                continue
            if not self._OK_AFTER.search(query[m.end() :]):
                continue
            lits = self._CHAIN_LIT.findall(m.group(0))
            out.append(query[last : m.start()])
            out.append(f"{m.group(1)} IN ({', '.join(lits)})")
            last = m.end()
        out.append(query[last:])
        return "".join(out)

    def sql(self, query: str, args=None) -> "XarrayDataFrame":
        from xarray_sql_spark.to_dataset import XarrayDataFrame

        q = self._or_to_in(self._rewrite(query))
        # Scope TIMESTAMP-literal parsing to NTZ while ANALYZING grid
        # queries (grid time coordinates are TIMESTAMP_NTZ; session tz is
        # UTC so values agree). Comparisons fold the LTZ->NTZ literal cast
        # either way, but `In` does not — without this, the OR->IN pruning
        # rewrite on a time dim reaches pushFilters as nothing and
        # full-scans. Restored immediately so plain-session behavior
        # outside .sql() is untouched.
        old = self.spark.conf.get("spark.sql.timestampType", "TIMESTAMP_LTZ")
        self.spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
        try:
            df = self.spark.sql(q, args=args) if args else self.spark.sql(q)
            meta = self._with_metadata_aggregates(df) if self.metadata_aggregates else None
            df = meta if meta is not None else self._with_projection_pushdown(df, q, args)
        finally:
            self.spark.conf.set("spark.sql.timestampType", old)
        return XarrayDataFrame(
            df,
            dict(self._registered_datasets),
            dict(self._registered_chunks),
            {p: t.dataset for p, t in self._payload_views.items()},
        )

    def table(self, name: str) -> DataFrame:
        return self.spark.table(self._rewrite(name))

    # -- exact scan statistics (A4) ----------------------------------------
    # Python data sources cannot hand Catalyst a-priori statistics, so the
    # reference's exact-stats behaviors (metadata COUNT(*), broadcast-side
    # selection — reference src/lib.rs:669-917, tests/test_stats.py) are
    # compensated at the session level: stats come from chunk arithmetic
    # with ZERO data reads, and join planning falls to AQE runtime stats.
    def scan_stats(self, name: str) -> dict:
        """Exact statistics for a registered grid table from chunk metadata:
        total rows, chunk-block count (``num_partitions``: blocks, not
        tasks; a scan packs blocks into up to one task per core), rows per
        block, per-dim bounds. Never launches a job or reads a cell."""
        from xarray_sql_spark.bounds import dim_bounds
        from xarray_sql_spark.chunks import block_slices, block_num_rows

        view = self._rewrite(name)
        for table in self._payload_views.values():
            if table.view != view:
                continue
            ds, dims = self._open_table_meta(table.kwargs)
            all_sizes = ds.sizes  # covers implicit (coordless) dims too
            sizes = {d: all_sizes[d] for d in dims}
            chunks = {d: c for d, c in (table.kwargs["chunks"] or {}).items() if d in sizes}
            blocks = list(block_slices(sizes, chunks or None))
            return {
                "num_rows": math.prod(sizes.values()),
                "num_partitions": len(blocks),
                "rows_per_partition": [block_num_rows(b) for b in blocks],
                "dim_bounds": dim_bounds(ds.coords, {d: slice(0, n) for d, n in sizes.items()}),
                "null_count": 0,  # dim coords are never null by construction
            }
        raise KeyError(f"'{name}' is not a registered grid table")

    def count(self, name: str) -> int:
        """Metadata-only COUNT(*): the product of the table's dim sizes
        (reference exact-stats shortcut, tests/test_stats.py:78-91)."""
        return self.scan_stats(name)["num_rows"]
