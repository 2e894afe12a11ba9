"""Property-based invariants for the chunk/pivot arithmetic (hypothesis) —
the rebuild's analogue of the reference's dask-differential chunk tests
(reference tests/test_df.py:485-534)."""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
from hypothesis import given, settings, strategies as st

from xarray_sql_spark.chunks import block_num_rows, block_slices, compute_chunks, n_blocks
from xarray_sql_spark.pivot import infer_schema, iter_record_batches


dims_st = st.dictionaries(
    st.sampled_from(["t", "y", "x", "z"]),
    st.integers(min_value=1, max_value=40),
    min_size=1,
    max_size=3,
)


@given(sizes=dims_st, data=st.data())
@settings(max_examples=60, deadline=None)
def test_blocks_partition_the_grid(sizes, data):
    chunks = {
        d: data.draw(st.integers(min_value=1, max_value=sizes[d] + 2), label=f"chunk_{d}")
        for d in sizes
    }
    blocks = list(block_slices(sizes, chunks))
    assert len(blocks) == n_blocks(sizes, chunks)
    # blocks tile the grid exactly: row counts sum to the product of sizes
    total = np.prod(list(sizes.values()))
    assert sum(block_num_rows(b) for b in blocks) == total
    # per-dim: slices cover [0, size) without overlap
    for d, size in sizes.items():
        resolved = compute_chunks(sizes, chunks)[d]
        assert sum(resolved) == size
        assert all(c >= 1 for c in resolved)


@given(
    nt=st.integers(min_value=1, max_value=12),
    ny=st.integers(min_value=1, max_value=12),
    batch=st.integers(min_value=1, max_value=50),
)
@settings(max_examples=40, deadline=None)
def test_pivot_rows_and_coords(nt, ny, batch):
    t = np.arange(nt, dtype=np.int64)
    y = np.arange(ny, dtype=np.float64) * 0.5
    v = np.arange(nt * ny, dtype=np.float64).reshape(nt, ny)

    class Var:
        dims = ("t", "y")
        dtype = v.dtype

    schema = infer_schema(("t", "y"), {"t": t, "y": y}, {"v": Var()})
    batches = list(
        iter_record_batches(("t", "y"), {"t": t, "y": y}, {"v": v}, schema, batch)
    )
    assert sum(len(b) for b in batches) == nt * ny
    assert all(len(b) <= batch for b in batches)
    # C-order contract: row i = (t[i // ny], y[i % ny], v.flat[i])
    import pyarrow as pa

    tbl = pa.Table.from_batches(batches)
    tt = np.asarray(tbl.column("t"))
    yy = np.asarray(tbl.column("y"))
    vv = np.asarray(tbl.column("v"))
    i = np.arange(nt * ny)
    np.testing.assert_array_equal(tt, t[i // ny])
    np.testing.assert_array_equal(yy, y[i % ny])
    np.testing.assert_array_equal(vv, v.reshape(-1))


# --- property: Zarr store roundtrip across formats/dtypes/chunking ----------
@st.composite
def _grids(draw):
    nd = draw(st.integers(1, 3))
    shape = tuple(draw(st.integers(1, 7)) for _ in range(nd))
    dtype = draw(st.sampled_from(["<f8", "<f4", "<i8", "<i4", "str"]))
    chunks = {f"d{i}": draw(st.integers(1, s)) for i, s in enumerate(shape)}
    seed = draw(st.integers(0, 2**31 - 1))
    fmt = draw(st.sampled_from([2, 3]))
    shard = draw(st.booleans()) if fmt == 3 else False
    comps = [
        None,
        {"id": "zlib", "level": 1},
        # blosc-lz4 chunks >= 128 elements/typesize take the c-blosc
        # SPLIT path (byte-plane streams), so the fuzz covers it
        {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1},
        {"id": "blosc", "cname": "zstd", "clevel": 3, "shuffle": 0},
        {"id": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 1},
        {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 2},  # bitshuffle
        {"id": "blosc", "cname": "blosclz", "clevel": 5, "shuffle": 2},
        {"id": "zstd", "level": 3},
        {"id": "blosc", "cname": "lz4hc", "clevel": 5, "shuffle": 1},
    ]
    if fmt == 2:
        comps.append({"id": "lz4"})  # numcodecs framing; no v3 spelling
        comps.append({"id": "bz2", "level": 1})  # stdlib; no v3 spelling
        comps.append({"id": "lzma"})
    comp = draw(st.sampled_from(comps))
    return shape, dtype, chunks, seed, fmt, shard, comp

@settings(max_examples=40, deadline=None)
@given(_grids())
def test_zarr_roundtrip_property(case):
    """Any (shape, dtype, chunk grid, format, sharding, codec) combo the
    writer supports must read back value-identical — including NaNs for
    float dtypes and edge chunks that need padding."""
    import tempfile

    from xarray_sql_spark.dataset import Dataset, Variable
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    shape, dtype, chunks, seed, fmt, shard, comp = case
    rng = np.random.default_rng(seed)
    if dtype == "str":  # vlen-utf8 path (v2 filter / v3 string data type)
        words = np.array(["", "a", "päx", "long-value-1234", "ß", "xyz"])
        data = words[rng.integers(0, len(words), size=shape)]
    else:
        data = (rng.integers(-1000, 1000, size=shape) / 4).astype(dtype)
        if np.dtype(dtype).kind == "f" and data.size > 1:
            flat = data.reshape(-1)
            flat[:: max(1, data.size // 3)] = np.nan
    dims = tuple(f"d{i}" for i in range(len(shape)))
    coords = {d: np.arange(s, dtype=np.int64) for d, s in zip(dims, shape)}
    ds = Dataset({"v": Variable(dims, data)}, coords)
    path = os.path.join(tempfile.mkdtemp(), "prop.zarr")
    shards = (
        {dims[0]: min(shape[0], chunks[dims[0]] * 2)} if shard else None
    )
    write_zarr(ds, path, chunks=chunks, compressor=comp, zarr_format=fmt,
               shards=shards)
    back = open_zarr(path)
    got = back.data_vars["v"].values()
    if dtype == "str":
        np.testing.assert_array_equal(got.astype(str), data.astype(str))
    else:
        assert got.dtype == np.dtype(dtype)
        np.testing.assert_array_equal(got, data)


# --- property: pruning is exact (a block is read iff some cell matches) -----
_UTC = _dt.timezone.utc
_DT_LO, _DT_HI = _dt.datetime(2000, 1, 1), _dt.datetime(2000, 1, 3)


@st.composite
def _prune_cases(draw):
    kind = draw(st.sampled_from(["int", "float", "str", "datetime"]))
    n = draw(st.integers(1, 40))
    if kind == "int":
        vals = draw(st.lists(st.integers(-50, 50), min_size=n, max_size=n))
        arr = np.array(vals, dtype=np.int64)
        lit = st.integers(-60, 60)
    elif kind == "float":
        vals = draw(st.lists(
            st.floats(-50, 50, allow_nan=False), min_size=n, max_size=n))
        arr = np.array(vals, dtype=np.float64)
        # int values on a float axis too
        lit = st.one_of(st.floats(-60, 60, allow_nan=False), st.integers(-60, 60))
    elif kind == "str":
        words = st.text(alphabet="abcßπ0", min_size=0, max_size=4)
        vals = draw(st.lists(words, min_size=n, max_size=n))
        arr = np.array(vals, dtype=str)
        lit = words
    else:
        vals = draw(st.lists(
            st.datetimes(_DT_LO, _DT_HI), min_size=n, max_size=n))
        arr = np.array(vals, dtype="datetime64[us]")
        # naive values, or aware ones (compared in UTC; the coordinates are
        # UTC wall clock)
        tz = draw(st.sampled_from([None, _UTC, _dt.timezone(_dt.timedelta(hours=-3))]))
        lit = st.one_of(st.sampled_from(vals), st.datetimes(_DT_LO, _DT_HI)).map(
            lambda v: v.replace(tzinfo=tz)
        )
    chunk = draw(st.integers(1, n))
    op = draw(st.sampled_from(["=", ">", ">=", "<", "<=", "in"]))
    value = draw(st.lists(lit, min_size=1, max_size=4)) if op == "in" else draw(lit)
    return arr, chunk, op, value


def _grid_reader(coords: dict, chunks: dict, binary_collation: bool = True, **packing):
    """A reader over an in-memory grid whose variable ``v`` numbers the
    cells in C order; ``packing`` sets the payload's packing inputs."""
    from xarray_sql_spark.dataset import Dataset, Variable
    from xarray_sql_spark.sources.grid_source import GridReader, make_payload, spark_schema

    dims = tuple(coords)
    shape = tuple(len(c) for c in coords.values())
    cells = np.arange(np.prod(shape), dtype=np.float32).reshape(shape)
    ds = Dataset({"v": Variable(dims, cells)}, coords)
    payload = make_payload(dataset=ds, chunks=chunks)
    payload["binary_collation"] = binary_collation
    payload.update(packing)
    return GridReader(payload, spark_schema(payload["arrow_schema"]))


def _kept_blocks(reader, filters) -> list[int]:
    reader.pushFilters(filters)
    return [p.index for p in reader.partitions() if p.index >= 0]


def _passes(x, op, value) -> bool:
    """Python's answer to ``x <op> value`` (aware literals compare against
    the coordinate read as UTC wall clock)."""
    probe = value[0] if op == "in" else value
    if isinstance(x, _dt.datetime) and probe.tzinfo:
        x = x.replace(tzinfo=_UTC)
    if op == "in":
        return x in value
    return {
        "=": x == value, ">": x > value, ">=": x >= value, "<": x < value, "<=": x <= value,
    }[op]


@settings(max_examples=300, deadline=None)
@given(_prune_cases())
def test_block_pruning_is_sound(case):
    """The block-pruning half of the pushdown contract, driven through
    GridReader.pushFilters + partitions(): dropping a block is only legal
    when NO row in it can match, for every dtype the coordinate masks
    support. The masks are exact, so a block without a match is dropped
    too."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
        LessThanOrEqual,
    )

    arr, chunk, op, value = case
    mk = {
        "=": lambda: EqualTo(("d",), value),
        ">": lambda: GreaterThan(("d",), value),
        ">=": lambda: GreaterThanOrEqual(("d",), value),
        "<": lambda: LessThan(("d",), value),
        "<=": lambda: LessThanOrEqual(("d",), value),
        "in": lambda: In(("d",), tuple(value)),
    }
    kept = _kept_blocks(_grid_reader({"d": arr}, {"d": chunk}), [mk[op]()])
    matches = [
        i for i, lo in enumerate(range(0, len(arr), chunk))
        if any(_passes(x, op, value) for x in arr[lo:lo + chunk].tolist())
    ]
    assert kept == matches, (op, value, arr, chunk)


@st.composite
def _pushdown_cases(draw):
    arr, chunk, op, value = draw(_prune_cases())
    narrow = draw(st.booleans())  # 32-bit coordinates
    if narrow and arr.dtype.kind in "if":
        arr = arr.astype(np.int32 if arr.dtype.kind == "i" else np.float32)
    # coordinates or a session the masks cannot mirror exactly
    nan = arr.dtype.kind == "f" and draw(st.booleans())
    if nan:
        arr = arr.copy()
        arr[draw(st.integers(0, len(arr) - 1))] = np.nan
    binary = arr.dtype.kind != "U" or draw(st.booleans())
    m = draw(st.integers(1, 5))  # a second, always mirrored dim
    e_chunk = draw(st.integers(1, m))
    e_max = draw(st.integers(-1, m))
    return arr, chunk, op, value, nan or not binary, binary, m, e_chunk, e_max


@settings(max_examples=300, deadline=None)
@given(_pushdown_cases())
def test_pushed_filters_select_exactly_their_cells(case):
    """The exact pushdown contract, for every coordinate dtype: ``read()``
    emits exactly the cells that pass the filters ``pushFilters`` answers,
    and returns exactly the ones it cannot mirror (a data variable, NaN
    coordinates, a string under a non-binary collation) for Catalyst to
    re-apply. Packed or not, every partition's rows are those cells."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan,
        LessThanOrEqual,
    )

    arr, chunk, op, value, unmirrored, binary, m, e_chunk, e_max = case
    cls = {"=": EqualTo, ">": GreaterThan, ">=": GreaterThanOrEqual, "<": LessThan,
           "<=": LessThanOrEqual, "in": In}[op]
    on_d = cls(("d",), tuple(value) if op == "in" else value)
    on_e = LessThanOrEqual(("e",), e_max)
    on_v = GreaterThan(("v",), 1.5)
    reader = _grid_reader(
        {"d": arr, "e": np.arange(m, dtype=np.int64)}, {"d": chunk, "e": e_chunk}, binary,
        cores=2, open_cost_bytes=0,
    )

    unhandled = list(reader.pushFilters([on_d, on_v, on_e]))
    assert unhandled == ([on_d, on_v] if unmirrored else [on_v])
    want = sorted(
        i * m + j
        for i, x in enumerate(arr.tolist()) for j in range(m)
        if (unmirrored or _passes(x, op, value)) and j <= e_max
    )
    got = sorted(
        int(v)
        for p in reader.partitions()
        for b in reader.read(p)
        for v in b.column(b.schema.get_field_index("v")).to_numpy()
    )
    assert got == want


def test_string_pruning_disabled_under_nonbinary_collation():
    """A payload registered under a non-binary session default collation
    (``binary_collation=False``) never drops a block on a string
    predicate — code-point comparison is unsound under e.g. UTF8_LCASE —
    while numeric pruning keeps working."""
    from pyspark.sql.datasource import EqualTo

    coords = {
        "station": np.array(["alpha", "bravo", "charlie", "delta"]),
        "t": np.arange(10, dtype=np.int64),
    }
    chunks = {"station": 2, "t": 5}
    ex_string = [EqualTo(("station",), "zulu")]  # matches no station
    assert _kept_blocks(_grid_reader(coords, chunks), ex_string) == []  # binary: prunes
    lcase = _grid_reader(coords, chunks, binary_collation=False)
    assert _kept_blocks(lcase, ex_string) == [0, 1, 2, 3]
    assert _kept_blocks(lcase, [EqualTo(("t",), 50)]) == []
    assert _kept_blocks(lcase, [EqualTo(("t",), 7)]) == [1, 3]


# --- property: v2 read-side filter fuzz (shuffle / packbits) ----------------
@st.composite
def _filter_cases(draw):
    n = draw(st.integers(1, 60))
    chunk = draw(st.integers(1, max(1, n)))
    kind = draw(st.sampled_from(["shuffle2", "shuffle4", "shuffle8", "packbits"]))
    seed = draw(st.integers(0, 2**31 - 1))
    return n, chunk, kind, seed


@settings(max_examples=30, deadline=None)
@given(_filter_cases())
def test_v2_filter_read_fuzz(case):
    """Read-only numcodecs filters (Shuffle, PackBits) over randomized
    lengths/chunk grids: chunk bytes are encoded in the TEST with an
    independent numpy implementation (byte transpose / pad-byte +
    packbits), so the store reader's inverse is checked against the
    public layout, not against itself. Edge chunks (shorter than the
    grid) and non-multiple-of-8 bool tails included by construction."""
    import json
    import tempfile

    from xarray_sql_spark.zarr_store import open_zarr

    n, chunk, kind, seed = case
    rng = np.random.default_rng(seed)
    path = os.path.join(tempfile.mkdtemp(), "ff.zarr")
    os.makedirs(os.path.join(path, "v"))
    with open(os.path.join(path, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)

    if kind == "packbits":
        data = rng.integers(0, 2, size=n).astype(bool)
        dtype, filters = "|b1", [{"id": "packbits"}]
    else:
        es = int(kind[-1])
        dtype = {2: "<i2", 4: "<i4", 8: "<i8"}[es]
        data = rng.integers(-1000, 1000, size=n).astype(dtype)
        filters = [{"id": "shuffle", "elementsize": es}]

    with open(os.path.join(path, "v", ".zarray"), "w") as f:
        json.dump({"zarr_format": 2, "shape": [n], "chunks": [chunk],
                   "dtype": dtype, "compressor": None, "fill_value": 0,
                   "order": "C", "filters": filters}, f)
    with open(os.path.join(path, "v", ".zattrs"), "w") as f:
        json.dump({"_ARRAY_DIMENSIONS": ["x"]}, f)

    nchunks = -(-n // chunk)
    for ci in range(nchunks):
        # zarr chunk files are always FULL chunk-shaped; the tail chunk is
        # padded (values beyond the array edge are unread)
        block = np.zeros(chunk, dtype=data.dtype)
        seg = data[ci * chunk : (ci + 1) * chunk]
        block[: len(seg)] = seg
        if kind == "packbits":
            pad = (8 - block.size % 8) % 8
            enc = bytes([pad]) + np.packbits(block).tobytes()
        else:
            raw = block.tobytes()
            es = block.dtype.itemsize
            enc = (
                np.frombuffer(raw, dtype=np.uint8)
                .reshape(chunk, es).T.reshape(-1).tobytes()
            )
        with open(os.path.join(path, "v", str(ci)), "wb") as f:
            f.write(enc)

    got = open_zarr(path).data_vars["v"].values()
    np.testing.assert_array_equal(got, data)


# --- space-saving kernel differential ----------------------------------------
@settings(max_examples=60, deadline=None)
@given(
    stream=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=400),
    capacity=st.integers(min_value=2, max_value=12),
    n_chunks=st.integers(min_value=1, max_value=5),
)
def test_space_saving_kernel_guarantees(stream, capacity, n_chunks):
    """Differential fuzz of the heavy-hitters kernel against exact counts,
    fed in 1-5 'micro-batches' through the real stateful function: after
    the final batch (state carried between calls), space-saving's
    invariants must hold for ANY stream — true <= cnt <= true + err for
    every surviving entity, table size <= capacity, and every entity
    whose true count exceeds len(stream)/capacity is present."""
    from collections import Counter

    import pandas as pd

    from xarray_sql_spark.streaming.events import _hh_fn_factory

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    fn = _hh_fn_factory(capacity)
    state = FakeState()
    chunk = max(1, len(stream) // n_chunks)
    out = None
    for i in range(0, len(stream), chunk):
        pdf = pd.DataFrame({"entity": [str(x) for x in stream[i : i + chunk]]})
        out = list(fn((0,), iter([pdf]), state))[-1]

    truth = Counter(str(x) for x in stream)
    table = {
        e: (c, err)
        for e, c, err in zip(out["entity"], out["cnt"], out["err"])
    }
    assert len(table) <= capacity
    for e, (cnt, err) in table.items():
        assert truth[e] <= cnt <= truth[e] + err, (e, cnt, err, truth[e])
    bound = len(stream) / capacity
    for e, true in truth.items():
        if true > bound:
            assert e in table, (e, true, bound)


# --- ISO-BMFF box-walk fuzz ---------------------------------------------------
# mm09's parser must recover the planted mvhd/tkhd fields from ANY
# well-formed box stream — unknown sibling boxes (free/skip/udta) before,
# between and after the known ones, extra traks, and arbitrary trailing
# garbage after mdat — and must never raise on any byte prefix.
import struct as _struct


def _box(typ: bytes, body: bytes) -> bytes:
    return _struct.pack(">I", 8 + len(body)) + typ + body


_junk_st = st.binary(min_size=0, max_size=32)


@given(
    brand=st.sampled_from(["isom", "mp42", "avc1"]),
    timescale=st.integers(min_value=1, max_value=1_000_000),
    duration=st.integers(min_value=0, max_value=2**31 - 1),
    w=st.integers(min_value=1, max_value=8192),
    h=st.integers(min_value=1, max_value=8192),
    pre_junk=_junk_st,
    mid_junk=_junk_st,
    extra_trak_first=st.booleans(),
    body=st.binary(min_size=0, max_size=64),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_mp4_walk_recovers_fields_through_unknown_boxes(
    brand, timescale, duration, w, h, pre_junk, mid_junk,
    extra_trak_first, body, data,
):
    from xarray_sql_spark.operators import multimodal as mm

    ref = mm.mp4_header(brand, timescale, duration, w, h)
    # dissect the reference header into its boxes to re-assemble with junk
    ftyp_len = _struct.unpack(">I", ref[:4])[0]
    ftyp = ref[:ftyp_len]
    moov_body = ref[ftyp_len + 8 :]
    mvhd_len = _struct.unpack(">I", moov_body[:4])[0]
    mvhd, trak = moov_body[:mvhd_len], moov_body[mvhd_len:]
    # a decoy trak with NO tkhd, or with an EMPTY-declared tkhd (size 8,
    # zero body — the round-8 ADVICE IndexError repro): the parser must
    # skip it without reading a version byte and keep looking
    decoy = (
        _box(b"trak", data.draw(st.sampled_from(
            [_box(b"free", b"\x00" * 12), _box(b"tkhd", b"")]
        )))
        if extra_trak_first
        else b""
    )
    rebuilt_moov = _box(
        b"moov",
        _box(b"free", pre_junk) + mvhd + decoy + _box(b"udta", mid_junk) + trak,
    )
    payload = (
        ftyp
        + _box(b"skip", pre_junk)
        + rebuilt_moov
        + _box(b"mdat", body)
        # zero-size box: provably terminates the sibling walk, so the
        # arbitrary garbage after it can never alias a real box and
        # perturb the parsed fields — the walk's malformed-size bail IS
        # part of the contract being fuzzed
        + b"\x00\x00\x00\x00"
        + data.draw(_junk_st)
    )
    info = mm.parse_container(payload)
    assert info is not None and info["format"] == "mp4"
    assert info["brand"] == brand
    assert info["timescale"] == timescale
    assert info["duration_units"] == duration
    assert (info["width"], info["height"]) == (w, h)
    assert info["data_len"] == len(body)
    # and NO prefix of any payload may ever raise
    for cut in data.draw(
        st.lists(st.integers(min_value=0, max_value=len(payload)), max_size=8)
    ):
        mm._parse_mp4(payload[:cut])  # must not raise; value unconstrained


# --- hh02 HLL estimate-regime differential ------------------------------------
# The driver gate proves Spark == DuckDB on the fixed events table; this
# property pins the ESTIMATE REGIME itself (n >> 2.5m, where the raw
# HLL formula is unbiased): for arbitrary distinct-int populations the
# md5-register estimate must stay within a 5-sigma band of truth
# (sigma = 1.04/sqrt(1024) ~ 3.25%). A systematic bug (wrong scale
# power, off-by-one rho — the round-9 2x bug class) lands ~50% off and
# can't hide inside the band.


@given(
    n=st.integers(min_value=3000, max_value=9000),
    offset=st.integers(min_value=0, max_value=2**40),
    stride=st.integers(min_value=1, max_value=10_000),
)
@settings(max_examples=15, deadline=None)
def test_hll_register_math_estimates_within_band(n, offset, stride):
    from tests.test_sketches import _py_hll_state
    from xarray_sql_spark.queries.advanced_ops import _HLL_ALPHA_NUM

    est = _HLL_ALPHA_NUM / _py_hll_state(
        offset + i * stride for i in range(n)
    )
    assert abs(est - n) / n < 5 * 1.04 / 32


# --- qs01 log-linear bucket properties -----------------------------------------


@given(st.lists(st.integers(min_value=1, max_value=2**50), min_size=1, max_size=300))
@settings(max_examples=40, deadline=None)
def test_qs_bucket_monotone_and_bounded(vals):
    """The top-5-significant-bit truncation is monotone (so histogram
    rank == value rank) and within the 2^-4 relative bound for EVERY
    value — the two facts qs01's rank selection rests on."""
    from tests.test_sketches import _py_qs_bucket

    svals = sorted(vals)
    buckets = [_py_qs_bucket(v) for v in svals]
    assert buckets == sorted(buckets)
    for v, b in zip(svals, buckets):
        assert b <= v and (v - b) / v < 2 ** -4


# --- mm10 EXIF/TIFF IFD-walk fuzz ----------------------------------------------
# The fixture plants exactly three tags; a real camera IFD0 carries
# dozens. The walk must recover the planted tags through ANY number of
# unknown entries (skipped by the fixed 12-byte stride), in both byte
# orders, and must never raise on any byte prefix.


@given(
    bo=st.sampled_from(["II", "MM"]),
    orient=st.integers(min_value=1, max_value=8),
    xres=st.integers(min_value=1, max_value=2**31 - 1),
    extra_tags=st.lists(
        st.tuples(
            st.sampled_from([0x010F, 0x0110, 0x0131, 0x8769, 0x9000]),
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        max_size=5,
    ),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_exif_walk_skips_unknown_tags(bo, orient, xres, extra_tags, data):
    import struct

    from xarray_sql_spark.operators import multimodal as mm

    e = "<" if bo == "II" else ">"
    dt = "2024:03:04 05:06:07"
    # planted entries (same encodings as the fixture) + unknown LONG
    # entries interleaved; entries stay ascending by tag where required
    # only by spec-strictness — the walk is stride-based so ANY order
    # must parse identically
    n = 3 + len(extra_tags)
    ifd0_off = 8
    data_off = ifd0_off + 2 + n * 12 + 4
    ent = []
    ent.append(
        struct.pack(e + "HHI", 0x0112, 3, 1)
        + struct.pack(e + "H", orient) + b"\x00\x00"
    )
    ent.append(
        struct.pack(e + "HHI", 0x011A, 5, 1) + struct.pack(e + "I", data_off)
    )
    ent.append(
        struct.pack(e + "HHI", 0x0132, 2, 20)
        + struct.pack(e + "I", data_off + 8)
    )
    for tag, val in extra_tags:
        ent.append(struct.pack(e + "HHI", tag, 4, 1) + struct.pack(e + "I", val))
    order = data.draw(st.permutations(range(n)))
    tiff = (
        bo.encode() + struct.pack(e + "H", 0x2A) + struct.pack(e + "I", 8)
        + struct.pack(e + "H", n)
        + b"".join(ent[i] for i in order)
        + struct.pack(e + "I", 0)
        + struct.pack(e + "II", xres, 1)
        + dt.encode().ljust(20, b"\x00")
    )
    payload = (
        b"\xff\xd8" + b"\xff\xe1"
        + struct.pack(">H", 2 + 6 + len(tiff)) + b"Exif\x00\x00" + tiff
        + mm.jpeg_header(64, 48)[2:]
    )
    exif = mm._parse_exif(payload)
    assert exif == {
        "byte_order": bo, "orientation": orient,
        "xres_num": xres, "xres_den": 1, "exif_datetime": dt,
    }
    # no prefix may raise
    for cut in data.draw(
        st.lists(st.integers(min_value=0, max_value=len(payload)), max_size=6)
    ):
        r = mm._parse_exif(payload[:cut])
        assert r is None or isinstance(r, dict)


# --- property: the partial reader's expression evaluator vs the engine --------
_LITS = (0.5, -2.0, 3.0, 1e30, 0.0, 7.25)


@st.composite
def _float_exprs(draw, depth: int = 0):
    """SQL text of a random expression over the float32 ``a`` and the
    float64 ``b``: + - * , unary minus, float/double literals, casts to
    double and division by a nonzero literal."""
    if depth >= 3 or (depth > 0 and draw(st.booleans())):
        kind = draw(st.sampled_from(["a", "b", "float", "double"]))
        if kind in ("a", "b"):
            return kind
        return f"CAST({draw(st.sampled_from(_LITS))!r} AS {kind.upper()})"
    op = draw(st.sampled_from(["+", "-", "*", "neg", "cast", "/"]))
    inner = draw(_float_exprs(depth + 1))
    if op == "neg":
        return f"(-{inner})"
    if op == "cast":
        return f"CAST({inner} AS DOUBLE)"
    if op == "/":
        return f"({inner} / {draw(st.sampled_from([v for v in _LITS if v]))!r})"
    return f"({inner} {op} {draw(_float_exprs(depth + 1))})"


def _evaluator_grid():
    from xarray_sql_spark.dataset import Dataset, Variable

    time = np.datetime64("2021-01-01T00", "ns") + np.arange(4) * np.timedelta64(1, "h")
    a = np.array([1.5, np.nan, np.inf, -np.inf, 3e38, -0.0, 2.0, -7.0, 0.1, 1e-30,
                  np.nan, 5.0], dtype=np.float32).reshape(4, 3)
    b = np.array([np.nan, 2.5, -np.inf, np.inf, 1e300, 0.0, -3.0, np.nan, 0.2, -1e-300,
                  4.0, 6.0]).reshape(4, 3)
    return Dataset(
        {"a": Variable(("time", "x"), a), "b": Variable(("time", "x"), b)},
        {"time": time, "x": np.array([10, 20, 30], dtype=np.int64)},
    )


@settings(max_examples=25, deadline=None)
@given(_float_exprs())
def test_partial_evaluator_matches_the_engine_bit_for_bit(spark, expr):
    """The expression tree the plan walk translates, evaluated by the
    reader's numpy evaluator, equals the engine's value in every cell: the
    same NULLs, the same NaNs, the same bits otherwise."""
    from xarray_sql_spark.plans.introspect import aggregate_spec
    from xarray_sql_spark.sources.partials import evaluate
    from xarray_sql_spark.xr_session import XarraySession

    xs = XarraySession(spark)
    ds = _evaluator_grid()
    xs.from_dataset("prop_ev", ds)
    spec = aggregate_spec(xs.spark.sql(f"SELECT MAX({expr}) FROM prop_ev"), xs._payload_views)
    assert spec is not None, expr
    tree = spec.outputs[0][1]
    if isinstance(tree, str):  # a bare column
        tree = ("var", "float32" if tree == "a" else "float64", tree)
    arrays = {v: ds.data_vars[v].values() for v in ("a", "b")}
    with np.errstate(all="ignore"):
        values, null = evaluate(tree, arrays, {})
    values = np.broadcast_to(values, (4, 3))
    null = np.broadcast_to(null, (4, 3))
    rows = xs.spark.sql(f"SELECT time, x, {expr} AS v FROM prop_ev").collect()
    t_idx = {t: i for i, t in enumerate(ds.coords["time"].astype("datetime64[us]").tolist())}
    x_idx = {x: i for i, x in enumerate(ds.coords["x"].tolist())}
    assert len(rows) == 12
    for r in rows:
        i, j = t_idx[r["time"]], x_idx[r["x"]]
        want, got = r["v"], values[i, j]
        if want is None:
            assert null[i, j], (expr, i, j, got)
            continue
        assert not null[i, j], (expr, i, j, want)
        got = float(got)
        assert (np.isnan(want) and np.isnan(got)) or (
            want == got and np.signbit(want) == np.signbit(got)
        ), (expr, i, j, want, got)
