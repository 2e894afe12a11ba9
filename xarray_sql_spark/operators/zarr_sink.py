"""Distributed Zarr sink: executors write chunk (or shard) files in parallel.

``XarrayDataFrame.to_zarr`` materializes the result on the driver first —
right for small grids (and what the reference's eager reverse pivot does),
wrong at scale. This sink keeps the data on executors end to end:

1. coordinates are the only thing collected (one ``distinct`` per dim —
   axes are small by construction);
2. the driver builds every array's metadata up front (a codec with no
   spelling in the chosen format fails before any job runs);
3. every row gets its chunk — or, with ``shards``, its shard — index via a
   broadcast position join, and rows shuffle ONCE on that key;
4. each key group scatter-fills its dense block and writes the file
   directly from the executor (``applyInPandas``);
5. the driver writes the coordinate arrays, then the metadata LAST
   (``.zarray``/``.zattrs``/``.zmetadata`` for v2, ``zarr.json`` with
   inline consolidated metadata for v3): a reader that can open the group
   finds every chunk it names.

The output is a plain public-spec Zarr v2 or v3 group (v3 optionally
``sharding_indexed``: few big files, sub-shard range reads) readable by
``zarr_store.open_zarr`` and any Zarr client. The on-disk format is owned
by :mod:`xarray_sql_spark.zarr_store`: this module builds metadata with
``array_meta``, encodes through ``ZarrArray.write_chunk`` and commits with
``write_group``. ``path`` must be storage every executor can reach (shared
FS / object store on a cluster; the local FS here). Chunk writes are
idempotent (a retry rewrites the same bytes) AND atomic (attempt-unique
temp file + rename), so task retries and speculative twin attempts are
both safe. Cells absent from the result stay at ``fill_value`` (sparse
chunks: all-missing chunks are never written); duplicate (dims) rows are
last-writer-wins, same as the eager scatter.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xarray_sql_spark.zarr_store import ZarrArray, array_meta, chunk_grid, write_group

_SPARK_TO_NP = {
    "double": "<f8",
    "float": "<f4",
    "bigint": "<i8",
    "int": "<i4",
    "smallint": "<i2",
    "tinyint": "|i1",
    "boolean": "|b1",
    "timestamp": "<M8[us]",
    "timestamp_ntz": "<M8[us]",
    "string": "|O",  # vlen-utf8 layout (numcodecs object codec)
}


def _np_dtype(spark_type: str, col: str) -> np.dtype:
    try:
        return np.dtype(_SPARK_TO_NP[spark_type])
    except KeyError:
        raise NotImplementedError(
            f"column {col!r}: Spark type {spark_type!r} has no Zarr mapping "
            f"(supported: {sorted(_SPARK_TO_NP)})"
        ) from None


# Axis guard: axes are driver-resident by contract (same as the
# reference's coords), but "bounded by axis length" must stay bounded —
# 2^24 values × 8 B ≈ 134 MB is already generous for a coordinate axis;
# past that the caller should chunk the dim itself.
MAX_AXIS_LEN = 1 << 24


def _collect_axes(
    df: DataFrame, dims: Sequence[str], dim_dtypes: Mapping[str, np.dtype]
) -> dict[str, np.ndarray]:
    """One distinct+sort per dim, fetched as Arrow batches (no py4j row
    objects) with a hard length guard — the LIMIT bounds driver memory
    BEFORE materialization, so an accidentally-huge axis fails fast
    instead of OOMing the driver."""
    coords: dict[str, np.ndarray] = {}
    for d in dims:
        tbl = df.select(d).distinct().orderBy(d).limit(MAX_AXIS_LEN + 1).toArrow()
        if tbl.num_rows > MAX_AXIS_LEN:
            raise ValueError(
                f"write_zarr_distributed: dim {d!r} has more than "
                f"{MAX_AXIS_LEN} distinct values — not a coordinate axis; "
                f"chunk the dim or aggregate before writing"
            )
        coords[d] = (
            tbl.column(0).to_pandas().to_numpy().astype(dim_dtypes[d])
        )
    return coords


def _with_key_index(
    df: DataFrame, axes: Mapping[str, tuple[np.ndarray, int]], key_chunks: tuple[int, ...]
) -> DataFrame:
    """``df`` plus, per dim ``d``, the row's position on the axis
    (``__pos_d``) and its key index on the ``key_chunks`` grid
    (``__ck_d``), by a broadcast join against the axis values (small);
    ``axes`` maps dim -> (values, position of the first value). Rows whose
    dim value is not on the axis drop out."""
    spark = df.sparkSession
    for (d, (values, start)), k in zip(axes.items(), key_chunks):
        pos = pd.DataFrame({d: values, f"__pos_{d}": np.arange(start, start + len(values), dtype=np.int64)})
        df = df.join(F.broadcast(spark.createDataFrame(pos)), d)
        df = df.withColumn(f"__ck_{d}", F.expr(f"__pos_{d} div {k}").cast("int"))
    return df


def _scatter_write(
    work: DataFrame, dims: Sequence[str], arrays: Mapping[str, ZarrArray], key_of, writer: str
) -> dict[str, int]:
    """Shuffle ``work`` (from :func:`_with_key_index`) once on its key
    index; the executor holding a key's rows scatter-fills that key's
    dense block of every array in ``arrays`` (column name -> target) and
    writes it through ``ZarrArray.write_chunk``. Cells without a row — and
    float/string NULLs — hold the array's fill_value, so a cell missing
    inside a written chunk reads back like one in a never-written chunk.
    Returns {key_of(index): rows}."""
    dlist = list(dims)
    key_chunks = next(iter(arrays.values())).key_chunks

    def _write_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = tuple(int(pdf[f"__ck_{d}"].iloc[0]) for d in dlist)
        locs = tuple(
            pdf[f"__pos_{d}"].to_numpy(dtype=np.int64) - i * k
            for d, i, k in zip(dlist, idx, key_chunks)
        )
        for v, za in arrays.items():
            dt, fill = za.dtype, za.fill_value
            # an int/bool dtype has no missing sentinel — fail with the
            # column name instead of an opaque astype cast error
            if dt.kind in "iub" and pdf[v].isna().any():
                raise ValueError(
                    f"{writer}: column {v!r} maps to non-nullable dtype {dt} "
                    f"but contains NULLs; fill or cast it to a float/timestamp "
                    f"type before writing"
                )
            vals = pdf[v].to_numpy()
            if dt.kind == "O":
                vals = np.array([fill if x is None else str(x) for x in vals], dtype=object)
            elif dt.kind == "f":
                # coercion yields NaN for NULL; map those cells to the
                # fill_value so a non-NaN fill (0, -9999) reads back as
                # "absent", not as a spurious NaN
                vals = pd.to_numeric(pdf[v], errors="coerce").to_numpy()
                if not np.isnan(fill):
                    vals = np.where(np.isnan(vals), fill, vals)
            block = np.full(key_chunks, fill, dtype=dt)
            block[locs] = vals.astype(dt)
            za.write_chunk(idx, block)
        return pd.DataFrame({"chunk": [key_of(idx)], "n": [len(pdf)]})

    stats = (
        work.groupBy(*[f"__ck_{d}" for d in dlist])
        .applyInPandas(_write_chunk, "chunk string, n long")
        .collect()
    )
    return {r["chunk"]: r["n"] for r in stats}


def _dotted_key(idx: tuple[int, ...]) -> str:
    return ".".join(str(i) for i in idx)


def rechunk_zarr(
    spark,
    src: str,
    dst: str,
    chunks: Mapping[str, int],
    compressor: dict | None = {"id": "zlib", "level": 1},
    zarr_format: int = 2,
    shards: Mapping[str, int] | None = None,
) -> dict[str, int]:
    """Executor-parallel rechunk: read the store at ``src`` through the
    grid DataSource and write ``dst`` with a new chunk grid (and
    optionally a new codec / format / shard layout) — the classic
    "rechunker" job as ONE shuffle: source chunks are read in parallel,
    rows exchange once on their DESTINATION chunk key, each destination
    chunk file is written whole from the executor holding it. The plan is
    a pure scan, so A12 identity detection feeds the destination axes
    from source coordinate metadata — zero driver-side axis jobs at any
    axis length. Returns {chunk_key: rows_written}.

    This is the operation behind "my chunks are wrong for my access
    pattern" (time-chunked archive -> space-chunked serving layout, many
    tiny chunks -> object-store-sized shards via ``zarr_format=3`` +
    ``shards``).

    CF-PACKED variables (scale_factor/add_offset/_Unsigned int packing)
    refuse: rechunking them through the decoded domain would silently
    re-encode int16 archives as float64 chunks (4x the bytes) and drop
    the packing attrs — decode explicitly and write a decoded store if
    that is what you want. Unpacked variables pass through
    value-identical; CF TIME coordinates re-encode as timestamp
    microseconds (value-preserving)."""
    import uuid

    from xarray_sql_spark.dataset import Dataset
    from xarray_sql_spark.xr_session import XarraySession
    from xarray_sql_spark.zarr_store import CFScaledArray

    ds = Dataset.open_store(src)
    packed = [
        n for n, var in ds.data_vars.items()
        if isinstance(getattr(var, "data", None), CFScaledArray)
    ]
    if packed:
        raise NotImplementedError(
            f"rechunk_zarr: variables {packed} are CF-packed; rechunking "
            f"would re-encode them in the decoded (float) domain and drop "
            f"the packing — not supported"
        )
    if not ds.data_vars:
        raise ValueError(
            f"rechunk_zarr: store at {src!r} has no data variables — "
            "nothing to rechunk"
        )
    xs = XarraySession(spark)
    name = f"__rechunk_{uuid.uuid4().hex[:12]}"
    # register with the SOURCE chunk grid so reads parallelize over the
    # existing partitioning; all vars must share one dims/chunk geometry
    # (SELECT * pivots them into one table)
    dims, src_chunks = None, None
    for vname, var in ds.data_vars.items():
        za = getattr(var, "data", None)
        v_chunks = (
            dict(zip(var.dims, za.chunks)) if hasattr(za, "chunks") else None
        )
        if dims is None:
            dims, src_chunks = var.dims, v_chunks
        elif var.dims != dims or v_chunks != src_chunks:
            raise ValueError(
                f"rechunk_zarr requires a uniform dims/chunk geometry; "
                f"{vname!r} has {var.dims}/{v_chunks}, expected "
                f"{dims}/{src_chunks}"
            )
    xs.from_dataset(name, ds, chunks=src_chunks or None, store=src)
    res = xs.sql(
        f"SELECT * FROM {name}"  # noqa: S608 — internal generated view name
    )
    return res.to_zarr_distributed(
        dst, dims=list(dims), chunks=dict(chunks), compressor=compressor,
        zarr_format=zarr_format, shards=shards,
    )


def write_zarr_region(
    df: DataFrame,
    path: str,
    region: Mapping[str, tuple[int, int]],
    validate: bool = True,
) -> dict[str, int]:
    """Executor-parallel OVERWRITE of a chunk-aligned rectangular region
    of an EXISTING Zarr store (xarray's ``to_zarr(region=...)``, scaled
    out): each touched chunk file is rewritten whole from the executor
    holding its rows; metadata is untouched, so concurrent readers only
    ever see complete old or complete new chunks (chunk writes are
    atomic-by-replacement and idempotent under task retry).

    ``region`` maps dim name -> (start, stop) POSITIONS; dims omitted
    cover their full extent. Every touched dim's bounds must land on
    chunk boundaries (a straddling chunk would need read-modify-write,
    which breaks retry idempotence) — misalignment raises. Chunk
    rewrite granularity is per chunk WITH rows: a chunk holding at
    least one ``df`` row is rewritten wholesale (its cells absent from
    ``df`` become the store's fill_value; duplicate dim-tuples are
    last-writer-wins in an unspecified order, like the full sink), and
    a region chunk with NO rows is left untouched. With
    ``validate=True`` a row of ``df`` whose dim values fall OUTSIDE the
    region raises instead of being silently dropped; the validate count
    also eagerly materializes ``df`` (localCheckpoint) BEFORE any chunk
    is replaced, so a read-transform-overwrite of the SAME store cannot
    recompute its inputs from half-overwritten chunks under task retry.

    Like :func:`append_zarr`, this operates in the RAW encoded domain:
    open the store with ``decode_cf=False`` spelling when checking what
    to write — CF-packed/time-encoded stores expect raw values.
    Sharded (v3 sharding_indexed) and filter-chain variables refuse:
    their chunk bytes are not independently rewritable."""
    from xarray_sql_spark.zarr_store import open_zarr

    ds = open_zarr(path, decode_cf=False)
    dim_names = set(ds.coords)
    var_cols = [c for c in df.columns if c not in dim_names]
    dims_cols = [c for c in df.columns if c in dim_names]
    if not var_cols:
        raise ValueError("no value columns: every column is a dim")
    unknown = [v for v in var_cols if v not in ds.data_vars]
    if unknown:
        raise ValueError(f"columns {unknown} are not variables of {path}")
    arrays = {v: ds.data_vars[v].data for v in var_cols}
    dims = ds.data_vars[var_cols[0]].dims
    for v in var_cols:
        if ds.data_vars[v].dims != dims:
            raise ValueError(
                f"region write requires uniform dims; {v!r} has "
                f"{ds.data_vars[v].dims}, expected {dims}"
            )
        za = arrays[v]
        if getattr(za, "_shard", None):
            raise NotImplementedError(
                f"{v}: region writes into sharded stores are not supported"
            )
        if getattr(za, "filters", None) and za._vlen is None:
            raise NotImplementedError(
                f"{v}: region writes through filter chains are not supported"
            )
        if getattr(za, "order", "C") != "C" or getattr(za, "_transpose_order", None):
            raise NotImplementedError(
                f"{v}: region writes into F-order / transpose-codec stores "
                f"are not supported (the writer emits C-order chunks)"
            )
    ref0 = arrays[var_cols[0]]
    for v in var_cols[1:]:
        za = arrays[v]
        if za.shape != ref0.shape or za.chunks != ref0.chunks:
            raise ValueError(
                f"region write requires a uniform chunk grid; {v!r} has "
                f"shape {za.shape} chunks {za.chunks}, expected "
                f"{ref0.shape} / {ref0.chunks}"
            )
    if sorted(dims_cols) != sorted(dims):
        raise ValueError(f"df must carry dim columns {dims}, got {dims_cols}")
    bad = [d for d in region if d not in dims]
    if bad:
        raise ValueError(f"region dims {bad} not in store dims {dims}")

    ref = arrays[var_cols[0]]
    bounds: dict[str, tuple[int, int]] = {}
    for ax, d in enumerate(dims):
        size, chunk = ref.shape[ax], ref.chunks[ax]
        start, stop = region.get(d, (0, size))
        if not (0 <= start < stop <= size):
            raise ValueError(f"region {d}=({start}, {stop}) outside [0, {size})")
        if start % chunk or (stop % chunk and stop != size):
            raise ValueError(
                f"region {d}=({start}, {stop}) is not aligned to chunk "
                f"size {chunk} (read-modify-write of straddled chunks is "
                f"not supported)"
            )
        bounds[d] = (start, stop)

    total = None
    if validate:
        # eager materialization FIRST: if df reads the same store it is
        # about to overwrite, a retried task must replay from the
        # checkpointed rows, never re-scan half-overwritten chunks
        df = df.localCheckpoint(eager=True)
        total = df.count()

    # position join against the store's own coordinate slice (raw domain)
    work = _with_key_index(
        df,
        {d: (np.asarray(ds.coords[d][lo:hi]), lo) for d, (lo, hi) in bounds.items()},
        ref.chunks,
    )
    # fill-padded blocks, the store's own format; stats keys are dotted
    written = _scatter_write(
        work, dims, {v: arrays[v] for v in var_cols}, _dotted_key, "write_zarr_region"
    )
    if validate:
        inside = sum(written.values())
        if inside != total:
            raise ValueError(
                f"write_zarr_region: {total - inside} of {total} rows "
                f"fall outside region {dict(bounds)} (or carry dim "
                f"values absent from the store's coordinates)"
            )
    return written


def write_zarr_distributed(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    chunks: Mapping[str, int] | None = None,
    compressor: dict | None = {"id": "zlib", "level": 1},
    zarr_format: int = 2,
    shards: Mapping[str, int] | None = None,
    coords: Mapping[str, np.ndarray] | None = None,
) -> dict[str, int]:
    """Write ``df`` (dim columns + value columns) as a chunked Zarr v2 (or
    v3) group with executor-parallel chunk writes. Returns
    {chunk_key: rows_written}.

    ``chunks`` defaults to splitting the FIRST dim into ~32 chunks (one
    write task per core here; on a cluster pick chunks so a block is
    10-100 MB). Coordinates are sorted ascending. ``zarr_format=3`` emits
    ``zarr.json`` metadata, ``c/``-prefixed chunk keys and a
    bytes(+gzip) codec chain instead of the v2 dialect. ``shards`` (v3
    only) groups rows by SHARD instead: each task writes one
    sharding_indexed file — inner chunk payloads + crc32c-checked binary
    index — giving the few-big-files layout object stores want while the
    reader keeps sub-shard range reads.

    ``coords`` (optional) supplies the per-dim axis arrays directly —
    callers that already KNOW the axes (a pure scan of a registered grid:
    ``to_zarr_distributed`` passes the source's coords) skip the per-dim
    distinct jobs entirely; values must be sorted ascending and cover
    every row's dim value (cells outside stay at fill).
    """
    if shards and zarr_format != 3:
        raise ValueError("shards requires zarr_format=3")
    dims = list(dims)
    spark_types = dict(df.dtypes)
    var_cols = [c for c in df.columns if c not in dims]
    if not var_cols:
        raise ValueError("no value columns: every column is a dim")
    dtypes = {v: _np_dtype(spark_types[v], v) for v in var_cols}
    dim_dtypes = {d: _np_dtype(spark_types[d], d) for d in dims}

    if coords is not None:
        missing = [d for d in dims if d not in coords]
        if missing:
            raise ValueError(f"coords missing dims {missing}")
        axes = {d: np.asarray(coords[d]).astype(dim_dtypes[d]) for d in dims}
        # axes known → the plan runs exactly once (the chunk write); no
        # persist needed
        return _write_persisted(
            df, path, dims, chunks, compressor, zarr_format, var_cols, dtypes,
            dim_dtypes, shards, axes,
        )

    # The plan is consumed N_dims+1 times (one distinct per dim + the chunk
    # write); persist so an expensive upstream query computes once, not
    # once per consumer. Released in the finally below.
    df = df.persist()
    try:
        return _write_persisted(
            df, path, dims, chunks, compressor, zarr_format, var_cols, dtypes,
            dim_dtypes, shards, None,
        )
    finally:
        df.unpersist()


def _write_persisted(
    df: DataFrame,
    path: str,
    dims: list,
    chunks: Mapping[str, int] | None,
    compressor: dict | None,
    zarr_format: int,
    var_cols: list,
    dtypes: dict,
    dim_dtypes: dict,
    shards: Mapping[str, int] | None = None,
    axes: dict | None = None,
) -> dict[str, int]:
    # 1) axes (small): caller-supplied, else one Arrow-fetched
    #    distinct+sort per dim (bounded by MAX_AXIS_LEN)
    coords = axes if axes is not None else _collect_axes(df, dims, dim_dtypes)
    sizes = {d: len(coords[d]) for d in dims}
    if any(sizes[d] == 0 for d in dims):
        raise ValueError("empty result: nothing to write")
    if chunks is None:
        chunks = {dims[0]: max(1, -(-sizes[dims[0]] // 32))}
    shape = tuple(sizes[d] for d in dims)
    chunk_shape, shard_shape = chunk_grid(tuple(dims), shape, chunks, shards)

    # 2) metadata on the driver BEFORE the write job: a codec with no
    #    spelling in the chosen format fails here, not after the cluster
    #    wrote chunks the metadata step would then reject
    metas = {
        v: array_meta(zarr_format, shape, chunk_shape, dtypes[v], tuple(dims),
                      compressor=compressor, shards=shard_shape)
        for v in var_cols
    }
    targets = {v: ZarrArray(os.path.join(path, v), metas[v][0]) for v in var_cols}
    first = targets[var_cols[0]]

    # 3) chunk/shard index per row, one shuffle, executor-side writes
    work = _with_key_index(df, {d: (coords[d], 0) for d in dims}, first.key_chunks)
    written = _scatter_write(work, dims, targets, first.chunk_key, "write_zarr_distributed")

    # 4) driver: coordinate arrays (one chunk each), then the metadata —
    #    the commit point
    for d in dims:
        n = (sizes[d],)
        metas[d] = array_meta(zarr_format, n, n, coords[d].dtype, (d,), compressor=compressor)
        ZarrArray(os.path.join(path, d), metas[d][0]).write_chunk((0,), coords[d])
    write_group(path, zarr_format, metas)
    return written
