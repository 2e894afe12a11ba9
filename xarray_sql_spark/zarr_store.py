"""Minimal public-spec Zarr v2 + v3 directory store: the reader, and the
one encoder every writer uses.

Implements the subsets of the Zarr v2 storage spec
(https://zarr-specs.readthedocs.io/en/latest/v2/v2.0.html) and the Zarr v3
core spec (https://zarr-specs.readthedocs.io/en/latest/v3/core/v3.0.html)
that xarray's ``to_zarr`` / zarr-python 3 produce, so grid tables can be
registered directly over the format users actually have (the reference's
primary input — reference xarray_sql/reader.py:192-337 builds its table
provider over Zarr and reads per-chunk, per-variable byte ranges;
``ZarrArray.read_block`` keeps that selective-read contract: only chunk
files overlapping the requested block are opened, and only requested
variables are touched).

Supported, v2:
- directory layout: group ``.zgroup``/``.zattrs``, one subdirectory per
  array holding ``.zarray``, optional ``.zattrs`` (xarray's
  ``_ARRAY_DIMENSIONS`` names the dims), and chunk files ``i.j.k``
  (``dimension_separator`` "." or "/").
- dtype: any numpy typestr (endian-aware), incl. ``datetime64``.
- compressor: ``null``, ``zlib``, ``gzip`` via the stdlib; ``blosc``
  (c-blosc 1.x chunk format: byte- or bit-shuffle +
  blosclz/lz4/zstd/snappy/zlib inner codecs), ``zstd`` (frames) and
  ``lz4`` (numcodecs u32-size framing) via
  :mod:`xarray_sql_spark.zarr_codecs` (pure-Python framings over
  pyarrow codecs; blosclz and bitshuffle fully in Python/numpy — no
  numcodecs needed).
- ``fill_value``: chunks absent from disk materialize as the fill
  (Zarr writes are sparse); JSON ``"NaN"``/``"Infinity"`` handled.
- ``order``: "C" or "F".
- filters: ``delta`` (packed coords), ``fixedscaleoffset`` (ERA5-style
  int-packed variables) and ``vlen-utf8`` (string coords/vars, ``|O``
  dtype) decode; other ids error clearly. CF attribute conventions
  (time ``units``/``calendar``; ``scale_factor``/``add_offset``
  packing with fill masking) decode at open, xarray-parity.

Supported, v3 (the reference's benchmark stack pins ``zarr>=3``):
- ``zarr.json`` node metadata (``node_type`` group/array), array dims via
  ``dimension_names``, attributes inline.
- ``chunk_grid`` ``regular``; ``chunk_key_encoding`` ``default``
  (``c/0/1``-style keys, "/" or "." separator) and ``v2`` (``0.1``).
- ``data_type``: core fixed-size names (``float64`` ...), numpy
  extension spellings for datetimes, and ``string`` (variable-length,
  via the ``vlen-utf8`` codec).
- ``codecs``: the mandatory ``bytes`` (endian) array->bytes codec,
  optionally followed by ``gzip`` / ``zlib`` / ``zstd`` / ``blosc``
  (zarr-python 3's default is zstd — both decode via zarr_codecs);
  ``transpose`` with ANY permutation (reversed maps to F-order reads;
  a general order decodes via the inverse ``np.transpose``).
- ``sharding_indexed``: shard files packing an inner chunk grid + binary
  (offset, nbytes) index ("start" or "end" located; the crc32c the default
  index_codecs append is VERIFIED with a pure-Python CRC-32C and emitted
  by the writer). The read granularity stays the INNER chunk: block reads
  slice only the overlapped byte ranges out of each shard — the
  cloud-store layout (few big files, range reads).
- inline ``consolidated_metadata`` in the root ``zarr.json`` (zarr-python
  3 convention): one metadata read for the whole group.

Writing: this module owns the on-disk format for every writer —
:func:`write_zarr`, :func:`append_zarr` and the executor-parallel sink,
region writer and rechunker in :mod:`xarray_sql_spark.operators.zarr_sink`.
:func:`array_meta` builds an array's metadata (v2 ``.zarray``/``.zattrs``
with the vlen-utf8 filter; v3 ``zarr.json`` with the vlen-utf8 or
``sharding_indexed`` chain), ``ZarrArray(dir, meta)`` encodes one chunk or
one whole shard and commits it atomically (:meth:`ZarrArray.write_chunk`,
the inverse of the chunk read), and :func:`write_group` commits a group's
metadata and consolidated metadata after the chunks.
"""

from __future__ import annotations

import gzip
import itertools
import json
import os
import zlib
from typing import Any, Mapping

import numpy as np

_ARRAY_DIMENSIONS = "_ARRAY_DIMENSIONS"


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _parse_dtype(spec: Any) -> np.dtype:
    if isinstance(spec, str):
        return np.dtype(spec)  # incl. "|O" for vlen (object) arrays
    raise NotImplementedError(f"structured Zarr dtypes are not supported: {spec!r}")


def _parse_fill(fill: Any, dtype: np.dtype):
    if dtype.kind == "O":  # vlen strings: numcodecs writes fill 0 or null
        return fill if isinstance(fill, str) else ""
    if fill is None:
        if dtype.kind == "M":
            return np.datetime64("NaT")
        if dtype.kind == "m":
            return np.timedelta64("NaT")  # zarr-python's null NaT spelling
        return dtype.type(0)
    if isinstance(fill, str) and dtype.kind == "f":
        return dtype.type(float(fill))  # "NaN" / "Infinity" / "-Infinity"
    if dtype.kind in "Mm":
        # reinterpret through the NATIVE-endian dtype, then convert: a
        # direct .view on a big-endian target reinterprets the int's
        # bytes and turns the NaT sentinel into a real timestamp
        return np.int64(fill).view(dtype.newbyteorder("=")).astype(dtype)
    return dtype.type(fill)


def _zstd_frame_content_size(frame: bytes) -> int | None:
    """Frame_Content_Size from a zstd frame header (RFC 8878 §3.1.1) —
    present whenever the writer knew the full size up front, which every
    whole-buffer Zarr chunk write does. Needed for vlen chunks whose
    decoded size isn't derivable from the chunk shape."""
    if len(frame) < 6 or frame[:4] != b"\x28\xb5\x2f\xfd":
        return None
    fhd = frame[4]
    fcs_flag = fhd >> 6
    single = (fhd >> 5) & 1
    pos = 5 + (0 if single else 1) + (0, 1, 2, 4)[fhd & 3]
    if fcs_flag == 0:
        return frame[pos] if single else None
    n = (2, 4, 8)[fcs_flag - 1]
    v = int.from_bytes(frame[pos : pos + n], "little")
    return v + 256 if fcs_flag == 1 else v


def _decompress(raw: bytes, compressor: dict | None, nbytes: int | None) -> bytes:
    """One chunk's bytes -> raw buffer. ``nbytes`` is the chunk's known
    decoded size (derivable from chunk shape × itemsize for fixed-size
    dtypes; None for vlen chunks), which the size-requiring pyarrow
    codecs (zstd/lz4/snappy) need."""
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.decompress(raw)
    if cid == "gzip":
        return gzip.decompress(raw)
    from xarray_sql_spark import zarr_codecs

    if cid == "blosc":
        return zarr_codecs.blosc_decompress(raw, expected_nbytes=nbytes)
    if cid == "zstd":
        if nbytes is None:
            nbytes = _zstd_frame_content_size(raw)
            if nbytes is None:
                raise NotImplementedError(
                    "zstd-compressed vlen chunk without a frame content size"
                )
        return zarr_codecs.zstd_decompress(raw, nbytes)
    if cid == "lz4":
        return zarr_codecs.lz4_numcodecs_decompress(raw)
    if cid == "bz2":  # numcodecs BZ2: bare bz2 stream
        import bz2

        return bz2.decompress(raw)
    if cid == "lzma":  # numcodecs LZMA: xz container (lzma auto-detects)
        import lzma

        return lzma.decompress(raw)
    raise NotImplementedError(
        f"Zarr compressor {cid!r} is not supported; supported ids are "
        f"null/zlib/gzip/blosc/zstd/lz4/bz2/lzma"
    )


def _compress(raw: bytes, compressor: dict | None, typesize: int = 1) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.compress(raw, compressor.get("level", 6))
    if cid == "gzip":
        # a fixed header mtime keeps writes reproducible: a retried chunk
        # write rewrites the same bytes, and two writers of one grid agree
        return gzip.compress(raw, compresslevel=compressor.get("level", 6), mtime=0)
    from xarray_sql_spark import zarr_codecs

    if cid == "blosc":
        return zarr_codecs.blosc_compress(
            raw,
            typesize,
            cname=compressor.get("cname", "lz4"),
            shuffle=compressor.get("shuffle", 1),
            blocksize=compressor.get("blocksize", 0),
        )
    if cid == "zstd":
        return zarr_codecs.zstd_compress(raw)
    if cid == "lz4":
        return zarr_codecs.lz4_numcodecs_compress(raw)
    if cid == "bz2":
        import bz2

        return bz2.compress(raw, compresslevel=compressor.get("level", 9))
    if cid == "lzma":
        import lzma

        preset = compressor.get("preset")
        return lzma.compress(raw, preset=preset)
    raise NotImplementedError(f"unsupported write compressor {cid!r}")


def _vlen_encode(arr: np.ndarray) -> bytes:
    """numcodecs VLenUTF8 encode: u32-LE item count, then per item a
    u32-LE byte length + utf8 payload (C-order flatten)."""
    flat = arr.reshape(-1)
    out = bytearray(len(flat).to_bytes(4, "little"))
    for s in flat:
        b = ("" if s is None else str(s)).encode("utf-8")
        out += len(b).to_bytes(4, "little")
        out += b
    return bytes(out)


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, polynomial 0x1EDC6F41 reflected to 0x82F63B78)
    — the checksum zarr v3's default shard index_codecs append. Pure
    Python with a lazily-built 256-entry table; index blobs are tiny
    (16 bytes per inner chunk), so speed is irrelevant."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for i in range(256):
            crc = i
            for _ in range(8):
                crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
            table.append(crc)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


_CRC32C_TABLE: list[int] | None = None


def _parse_v3_dtype(spec: Any) -> np.dtype:
    """v3 ``data_type``: core names ("float64", "int32", "bool", ...) or an
    extension object/name — zarr-python 3 spells numpy datetimes as
    ``numpy.datetime64`` with a unit configuration."""
    if isinstance(spec, dict):  # extension form {"name": ..., "configuration": {...}}
        name = spec.get("name", "")
        cfg = spec.get("configuration", {}) or {}
        if name in ("numpy.datetime64", "numpy.timedelta64"):
            unit = cfg.get("unit", "ns")
            kind = "M8" if name.endswith("datetime64") else "m8"
            return np.dtype(f"{kind}[{unit}]")
        raise NotImplementedError(f"unsupported Zarr v3 data_type {spec!r}")
    if isinstance(spec, str):
        if spec == "string":  # v3 variable-length string data type
            return np.dtype(object)
        try:
            return np.dtype(spec)
        except TypeError:
            raise NotImplementedError(f"unsupported Zarr v3 data_type {spec!r}") from None
    raise NotImplementedError(f"unsupported Zarr v3 data_type {spec!r}")


class ZarrArray:
    """Lazy chunk-addressable handle to one Zarr v2 or v3 array directory.

    ``read_block(slices)`` opens ONLY the chunk files overlapping the
    requested extent (``last_opened`` records them for observability
    tests) and assembles the block, substituting ``fill_value`` for
    chunks that were never written.
    """

    def __init__(self, path: str, meta: dict | None = None):
        self.path = path
        if meta is None:
            v3_path = os.path.join(path, "zarr.json")
            if os.path.isfile(v3_path):
                meta = _read_json(v3_path)
            else:
                meta = _read_json(os.path.join(path, ".zarray"))
        self.last_opened: list[str] = []
        self._shard: dict | None = None  # set by _init_v3 for sharded arrays
        self._transpose_order: list[int] | None = None  # v3 general transpose
        self._vlen: str | None = None  # v2 vlen-utf8 object codec
        self._shuffle_elem: int | None = None  # v2 numcodecs Shuffle filter
        self._packbits: bool = False  # v2 numcodecs PackBits (bool) filter
        fmt = meta.get("zarr_format")
        if fmt == 2:
            self._init_v2(meta)
        elif fmt == 3:
            self._init_v3(meta)
        else:
            raise ValueError(f"{path}: unsupported zarr_format {fmt!r}")

    def _init_v2(self, meta: dict) -> None:
        self.shape = tuple(int(n) for n in meta["shape"])
        self.chunks = tuple(int(c) for c in meta["chunks"])
        self.key_chunks = self.chunks
        self.dtype = _parse_dtype(meta["dtype"])
        self.order = meta.get("order", "C")
        self.fill_value = _parse_fill(meta.get("fill_value"), self.dtype)
        self.compressor = meta.get("compressor")
        self._key_encoding = ("v2", meta.get("dimension_separator", "."))
        # numcodecs filter chain: real stores pack coords with delta and
        # variables with fixedscaleoffset (ERA5-style int packing). Chunk
        # bytes hold the LAST filter's output dtype; decode inverts the
        # chain right-to-left on the flat buffer before reshape. Object
        # (string) arrays use the vlen-utf8 object codec as the sole
        # filter (numcodecs' layout for xarray string coords/vars).
        self.filters: list[dict] = list(meta.get("filters") or [])
        self._vlen: str | None = None
        self._storage_dtype = self.dtype
        for f in self.filters:
            fid = f.get("id")
            if fid == "vlen-utf8":
                if len(self.filters) != 1:
                    raise NotImplementedError(
                        f"{self.path}: vlen-utf8 composed with other "
                        f"filters is not supported"
                    )
                self._vlen = "utf8"
                continue
            if fid == "shuffle":
                # numcodecs Shuffle: whole-buffer byte transpose; operates
                # on the serialized bytes, so it only composes as the LAST
                # filter (adjacent to the compressor) — numcodecs' own
                # usage
                if f is not self.filters[-1]:
                    raise NotImplementedError(
                        f"{self.path}: shuffle filter must be last in the "
                        f"chain"
                    )
                self._shuffle_elem = int(f.get("elementsize", 4))
                continue
            if fid == "packbits":
                # numcodecs PackBits: bool -> bit-packed bytes with a
                # 1-byte pad count; meaningful only as the sole filter on
                # a bool array
                if len(self.filters) != 1 or self.dtype.kind != "b":
                    raise NotImplementedError(
                        f"{self.path}: packbits is only supported as the "
                        f"sole filter on a bool array"
                    )
                self._packbits = True
                self._storage_dtype = np.dtype("|u1")
                continue
            if fid not in ("delta", "fixedscaleoffset"):
                raise NotImplementedError(
                    f"{self.path}: Zarr filter {fid!r} is not supported "
                    f"(delta, fixedscaleoffset, shuffle, packbits and "
                    f"vlen-utf8 are)"
                )
            self._storage_dtype = np.dtype(f.get("astype") or f.get("dtype"))

    def _parse_v3_codecs(self, codecs: list) -> tuple[str, dict | None]:
        """Apply a v3 codec chain to self.dtype; return (order, compressor).

        Handles ``bytes`` (endian), ``transpose`` (reversed order == F),
        ``gzip``/``zlib``; anything else raises with a clear message."""
        order, compressor = "C", None
        for codec in codecs or [{"name": "bytes"}]:
            name = codec.get("name")
            cfg = codec.get("configuration", {}) or {}
            if name == "bytes":
                endian = cfg.get("endian", "little")
                if self.dtype.itemsize > 1:
                    self.dtype = self.dtype.newbyteorder(
                        "<" if endian == "little" else ">"
                    )
            elif name == "transpose":
                o = list(cfg.get("order", []))
                if sorted(o) != list(range(len(self.shape))):
                    raise ValueError(
                        f"{self.path}: transpose codec order {o} is not a "
                        f"permutation of the array's dimensions"
                    )
                if o == list(reversed(range(len(self.shape)))):
                    order = "F"  # reversed permutation == F-order bytes
                elif o != list(range(len(self.shape))):
                    # general permutation: the stored chunk is the C-order
                    # bytes of np.transpose(x, o); decode inverts with the
                    # argsort permutation (zarr v3 transpose codec spec)
                    self._transpose_order = o
            elif name == "vlen-utf8":
                # v3 string arrays: the numcodecs VLenUTF8 buffer layout
                # replaces the mandatory "bytes" codec
                self._vlen = "utf8"
            elif name in ("gzip", "zlib"):
                compressor = {"id": name, "level": cfg.get("level", 6)}
            elif name == "zstd":
                compressor = {"id": "zstd", "level": cfg.get("level", 0)}
            elif name == "blosc":
                shuffle_names = {"noshuffle": 0, "shuffle": 1, "bitshuffle": 2}
                compressor = {
                    "id": "blosc",
                    "cname": cfg.get("cname", "lz4"),
                    "clevel": cfg.get("clevel", 5),
                    "shuffle": shuffle_names.get(cfg.get("shuffle", "noshuffle"), 0),
                    "blocksize": cfg.get("blocksize", 0),
                }
            else:
                raise NotImplementedError(
                    f"{self.path}: Zarr v3 codec {name!r} is not supported"
                )
        return order, compressor

    def _init_v3(self, meta: dict) -> None:
        if meta.get("node_type") != "array":
            raise ValueError(f"{self.path}: zarr.json node_type is not 'array'")
        self.shape = tuple(int(n) for n in meta["shape"])
        grid = meta.get("chunk_grid", {})
        if grid.get("name") != "regular":
            raise NotImplementedError(
                f"{self.path}: only the 'regular' chunk grid is supported"
            )
        outer = tuple(int(c) for c in grid["configuration"]["chunk_shape"])
        self.dtype = _parse_v3_dtype(meta["data_type"])
        codecs = meta.get("codecs", [{"name": "bytes"}])
        self._shard: dict | None = None
        if codecs and codecs[0].get("name") == "sharding_indexed":
            # Sharded array: the storage key addresses a SHARD (outer chunk
            # grid); each shard file packs a sub-grid of inner chunks plus a
            # binary index of (offset, nbytes) uint64-LE pairs. The read
            # granularity (self.chunks) becomes the INNER chunk, so block
            # reads stay selective *within* a shard — only the overlapped
            # inner chunks' byte ranges are sliced out of the shard file.
            cfg = codecs[0].get("configuration", {}) or {}
            inner = tuple(int(c) for c in cfg["chunk_shape"])
            if any(o % i for o, i in zip(outer, inner)):
                raise ValueError(
                    f"{self.path}: shard shape {outer} not divisible by "
                    f"inner chunk shape {inner}"
                )
            self.order, self.compressor = self._parse_v3_codecs(cfg.get("codecs"))
            # Spec default for index_codecs is [bytes, crc32c], so an absent
            # key means the 4-byte checksum IS present. The crc32c trailer is
            # verified in _shard_index (pure-Python CRC-32C) — a corrupted
            # index raises instead of yielding garbage (offset, nbytes) pairs.
            if "index_codecs" in cfg:
                index_codecs = [c.get("name") for c in cfg["index_codecs"]]
                index_checksum = 4 if "crc32c" in index_codecs else 0
            else:
                index_checksum = 4
            self._shard = {
                "outer": outer,
                "per_shard": tuple(o // i for o, i in zip(outer, inner)),
                "index_location": cfg.get("index_location", "end"),
                "index_checksum": index_checksum,
                "index_cache": {},
            }
            self.chunks = inner
        else:
            self.chunks = outer
            self.order, self.compressor = self._parse_v3_codecs(codecs)
        self.key_chunks = outer  # the storage-key grid: shards when sharded
        self.fill_value = _parse_fill(meta.get("fill_value"), self.dtype)
        self.filters = []  # v2-only concept; v3 expresses these as codecs
        self._storage_dtype = self.dtype
        cke = meta.get("chunk_key_encoding", {"name": "default"})
        self._key_encoding = (
            cke.get("name", "default"),
            (cke.get("configuration", {}) or {}).get(
                "separator", "/" if cke.get("name", "default") == "default" else "."
            ),
        )

    def _chunk_nbytes(self) -> int | None:
        if self.dtype.kind == "O":
            return None  # vlen chunks: size not derivable from the shape
        n = 1
        for c in self.chunks:
            n *= c
        if self._packbits:
            return 1 + (n + 7) // 8  # pad-count byte + packed bits
        return n * self._storage_dtype.itemsize

    def _decode_chunk(self, raw: bytes) -> np.ndarray:
        """Decompressed chunk bytes -> typed chunk array: view as the
        storage dtype, invert the filter chain on the flat buffer (the
        layout numcodecs filters operate on), then reshape."""
        if self._vlen is not None:
            # numcodecs VLenUTF8 buffer: u32-LE item count, then per item
            # u32-LE byte length + utf8 payload (vlen.pyx layout)
            n = int.from_bytes(raw[:4], "little")
            want = 1
            for c in self.chunks:
                want *= c
            out = np.full(want, self.fill_value, dtype=object)
            pos = 4
            for i in range(min(n, want)):
                ln = int.from_bytes(raw[pos : pos + 4], "little")
                pos += 4
                out[i] = raw[pos : pos + ln].decode("utf-8")
                pos += ln
            if self._transpose_order is not None:
                # v3 transpose composes with vlen-utf8 too — skipping it
                # here would silently scramble string positions
                perm = self._transpose_order
                enc = out.reshape(tuple(self.chunks[p] for p in perm))
                return np.transpose(enc, np.argsort(perm))
            return out.reshape(self.chunks, order=self.order)
        if self._shuffle_elem is not None:
            # numcodecs Shuffle inverse: whole-buffer stride-elementsize
            # byte transpose (tail bytes beyond a whole element unshuffled)
            from xarray_sql_spark.zarr_codecs import _unshuffle

            raw = _unshuffle(raw, self._shuffle_elem)
        if self._packbits:
            enc = np.frombuffer(raw, dtype="|u1")
            dec = np.unpackbits(enc[1:])
            if enc[0]:
                dec = dec[: -int(enc[0])]
            return dec.view(bool).reshape(self.chunks, order=self.order)
        flat = np.frombuffer(raw, dtype=self._storage_dtype)
        for f in reversed(self.filters):
            if f["id"] in ("shuffle", "packbits"):
                continue  # handled on the byte buffer above
            if f["id"] == "delta":
                # numcodecs Delta.decode: cumsum in the declared dtype
                flat = np.cumsum(flat, dtype=np.dtype(f["dtype"]))
            else:  # fixedscaleoffset: x = enc/scale + offset, cast to dtype
                flat = (flat / f["scale"] + f["offset"]).astype(
                    np.dtype(f["dtype"]), copy=False
                )
        if self._transpose_order is not None:
            perm = self._transpose_order
            enc = flat.reshape(tuple(self.chunks[p] for p in perm))
            return np.transpose(enc, np.argsort(perm))
        return flat.reshape(self.chunks, order=self.order)

    def chunk_key(self, idx: tuple[int, ...]) -> str:
        """Storage key of index ``idx`` on the ``key_chunks`` grid,
        relative to the array directory."""
        kind, sep = self._key_encoding
        if kind == "default":  # v3 default: c/0/1 (or c.0.1)
            return sep.join(["c", *(str(i) for i in idx)])
        return sep.join(str(i) for i in idx) if idx else "0"  # v2: 0.1 / "0"

    def _chunk_file(self, idx: tuple[int, ...]) -> str:
        return os.path.join(self.path, self.chunk_key(idx))

    def _shard_index(self, fname: str) -> np.ndarray | None:
        """(n_inner, 2) uint64 array of (offset, nbytes) per inner chunk in
        C order; cached per shard file. None if the shard file is absent."""
        cache = self._shard["index_cache"]
        if fname in cache:
            return cache[fname]
        if not os.path.exists(fname):
            cache[fname] = None
            return None
        import math

        n_inner = math.prod(self._shard["per_shard"])
        idx_size = 16 * n_inner + self._shard["index_checksum"]
        with open(fname, "rb") as f:
            if self._shard["index_location"] == "start":
                raw = f.read(idx_size)
            else:
                f.seek(-idx_size, os.SEEK_END)
                raw = f.read(idx_size)
        if self._shard["index_checksum"]:
            want = int.from_bytes(raw[16 * n_inner : 16 * n_inner + 4], "little")
            got = _crc32c(raw[: 16 * n_inner])
            if got != want:
                raise ValueError(
                    f"{fname}: shard index crc32c mismatch "
                    f"(stored {want:#010x}, computed {got:#010x}) — corrupt shard"
                )
        table = np.frombuffer(raw[: 16 * n_inner], dtype="<u8").reshape(n_inner, 2)
        cache[fname] = table
        return table

    def _load_chunk(self, idx: tuple[int, ...]) -> np.ndarray | None:
        if self._shard is not None:
            return self._load_inner_chunk(idx)
        fname = self._chunk_file(idx)
        if not os.path.exists(fname):
            return None  # sparse chunk -> fill_value
        # record the key relative to the array dir (v3 keys span subdirs)
        self.last_opened.append(os.path.relpath(fname, self.path))
        with open(fname, "rb") as f:
            raw = _decompress(f.read(), self.compressor, self._chunk_nbytes())
        return self._decode_chunk(raw)

    def _load_inner_chunk(self, idx: tuple[int, ...]) -> np.ndarray | None:
        """Sharded read: ``idx`` is an INNER-chunk index; locate its shard
        file, look up its (offset, nbytes) in the shard index, slice and
        decode only that byte range."""
        per = self._shard["per_shard"]
        outer_idx = tuple(i // p for i, p in zip(idx, per))
        local = tuple(i % p for i, p in zip(idx, per))
        fname = self._chunk_file(outer_idx)
        table = self._shard_index(fname)
        if table is None:
            return None  # whole shard absent -> fill
        pos = 0
        for l, p in zip(local, per):
            pos = pos * p + l
        offset, nbytes = int(table[pos, 0]), int(table[pos, 1])
        if offset == 0xFFFFFFFFFFFFFFFF:
            return None  # inner chunk never written -> fill
        self.last_opened.append(
            f"{os.path.relpath(fname, self.path)}[{pos}]"
        )
        with open(fname, "rb") as f:
            f.seek(offset)
            raw = _decompress(f.read(nbytes), self.compressor, self._chunk_nbytes())
        return self._decode_chunk(raw)

    def read_block(self, slices: tuple[slice, ...]) -> np.ndarray:
        self.last_opened = []
        bounds = [
            (
                s.start if s.start is not None else 0,
                s.stop if s.stop is not None else n,
            )
            for s, n in zip(slices, self.shape)
        ]
        out_shape = tuple(hi - lo for lo, hi in bounds)
        out = np.empty(out_shape, dtype=self.dtype)
        if 0 in out_shape:
            return out
        chunk_ranges = [
            range(lo // c, (hi - 1) // c + 1)
            for (lo, hi), c in zip(bounds, self.chunks)
        ]
        for idx in itertools.product(*chunk_ranges):
            chunk = self._load_chunk(idx)
            # intersection of this chunk with the requested block, both in
            # global coordinates
            inter = [
                (max(lo, i * c), min(hi, (i + 1) * c, n))
                for (lo, hi), i, c, n in zip(bounds, idx, self.chunks, self.shape)
            ]
            out_sel = tuple(
                slice(g0 - lo, g1 - lo) for (g0, g1), (lo, _) in zip(inter, bounds)
            )
            if chunk is None:
                out[out_sel] = self.fill_value
            else:
                chunk_sel = tuple(
                    slice(g0 - i * c, g1 - i * c)
                    for (g0, g1), i, c in zip(inter, idx, self.chunks)
                )
                out[out_sel] = chunk[chunk_sel]
        return out

    def values(self) -> np.ndarray:
        return self.read_block(tuple(slice(0, n) for n in self.shape))

    # -- write side: the inverse of _load_chunk ---------------------------

    def write(self, data: np.ndarray, start: tuple[int, ...] | None = None) -> None:
        """Write ``data`` key by key with its origin at ``start`` (default:
        the array's origin), a position aligned to ``key_chunks`` — a whole
        new array, or the new chunks of an append."""
        base = [s // k for s, k in zip(start or (0,) * data.ndim, self.key_chunks)]
        grid = [range(-(-n // k)) for n, k in zip(data.shape, self.key_chunks)]
        for idx in itertools.product(*grid):
            sel = tuple(slice(i * k, (i + 1) * k) for i, k in zip(idx, self.key_chunks))
            self.write_chunk(tuple(b + i for b, i in zip(base, idx)), data[sel])

    def write_chunk(self, idx: tuple[int, ...], block: np.ndarray) -> None:
        """Encode ``block``, the data of key ``idx`` on the ``key_chunks``
        grid (one chunk, or one whole shard of a sharded array), in this
        array's declared order, key encoding and codec, and commit it as
        one file atomically. A block smaller than the key's shape (an edge
        chunk) is padded with zeros ("" for strings); writers that pad with
        the fill value pass a full block."""
        if (self.filters and self._vlen is None) or self._transpose_order is not None:
            raise NotImplementedError(
                f"{self.path}: writing through filter chains or a general "
                f"transpose codec is not supported"
            )
        data = self._encode_chunk(block) if self._shard is None else self._encode_shard(idx, block)
        _write_file(self._chunk_file(idx), data)

    def _encode_chunk(self, block: np.ndarray) -> bytes:
        """One chunk's bytes: the inverse of ``_decode_chunk`` followed by
        ``_decompress``."""
        block = np.asarray(block)
        vlen = self._vlen is not None
        if block.shape != self.chunks:  # pad an edge chunk to full size
            full = np.full(self.chunks, "", dtype=object) if vlen else np.zeros(self.chunks, self.dtype)
            full[tuple(slice(0, n) for n in block.shape)] = block
            block = full
        if vlen:
            raw = _vlen_encode(block.reshape(-1, order=self.order))
        else:
            raw = block.astype(self.dtype, copy=False).tobytes(order=self.order)
        return _compress(raw, self.compressor, 1 if vlen else self.dtype.itemsize)

    def _encode_shard(self, idx: tuple[int, ...], block: np.ndarray) -> bytes:
        """One shard file: the inner chunks' payloads in C order, then the
        (offset, nbytes) uint64-LE index, then its crc32c. Inner chunks
        lying wholly past the array's end are recorded as absent."""
        if (self._shard["index_location"], self._shard["index_checksum"]) != ("end", 4):
            raise NotImplementedError(
                f"{self.path}: only end-located, crc32c-checked shard indexes are written"
            )
        per = self._shard["per_shard"]
        index = np.full((int(np.prod(per)), 2), 0xFFFFFFFFFFFFFFFF, dtype="<u8")
        payload = bytearray()
        for pos, inner in enumerate(itertools.product(*(range(p) for p in per))):
            if any(
                o * k + i * c >= n
                for o, k, i, c, n in zip(idx, self.key_chunks, inner, self.chunks, self.shape)
            ):
                continue
            enc = self._encode_chunk(
                block[tuple(slice(i * c, (i + 1) * c) for i, c in zip(inner, self.chunks))]
            )
            index[pos] = (len(payload), len(enc))
            payload += enc
        table = index.tobytes()
        return bytes(payload) + table + _crc32c(table).to_bytes(4, "little")


def _array_dirs(path: str) -> list[str]:
    return sorted(
        name
        for name in os.listdir(path)
        if os.path.isfile(os.path.join(path, name, ".zarray"))
    )


def _v3_array_dirs(path: str) -> list[str]:
    out = []
    for name in sorted(os.listdir(path)):
        p = os.path.join(path, name, "zarr.json")
        if os.path.isfile(p) and _read_json(p).get("node_type") == "array":
            out.append(name)
    return out


def _load_group_metadata_v3(path: str) -> tuple[dict, dict[str, tuple[dict, dict]]]:
    """v3 twin of :func:`_load_group_metadata`: (group attrs, {array name:
    (zarr.json meta, normalized attrs incl. _ARRAY_DIMENSIONS)}).

    Prefers zarr-python 3's inline ``consolidated_metadata`` in the root
    ``zarr.json`` — one read for the whole group; falls back to walking
    per-array ``zarr.json`` files. Dims come from the spec's
    ``dimension_names``, normalized into the xarray ``_ARRAY_DIMENSIONS``
    attribute so the open path is format-agnostic."""
    root = _read_json(os.path.join(path, "zarr.json"))
    attrs = dict(root.get("attributes") or {})
    arrays: dict[str, tuple[dict, dict]] = {}

    def add(name: str, meta: dict) -> None:
        if meta.get("node_type") != "array":
            return
        zattrs = dict(meta.get("attributes") or {})
        dims = meta.get("dimension_names")
        if dims and _ARRAY_DIMENSIONS not in zattrs:
            zattrs[_ARRAY_DIMENSIONS] = list(dims)
        arrays[name] = (meta, zattrs)

    consolidated = root.get("consolidated_metadata") or {}
    if consolidated.get("metadata"):
        for name, meta in sorted(consolidated["metadata"].items()):
            add(name, meta)
    else:
        for name in _v3_array_dirs(path):
            add(name, _read_json(os.path.join(path, name, "zarr.json")))
    return attrs, arrays


def _load_group_metadata(path: str) -> tuple[dict, dict[str, tuple[dict, dict]]]:
    """(group attrs, {array name: (.zarray meta, .zattrs)}).

    Prefers consolidated metadata (``.zmetadata``, what xarray writes with
    ``consolidated=True``): ONE metadata read instead of 2 per array — on
    object stores with thousands of variables that is the difference
    between one round trip and thousands at registration time."""
    zmeta_path = os.path.join(path, ".zmetadata")
    if os.path.isfile(zmeta_path):
        entries = _read_json(zmeta_path)["metadata"]
        attrs = entries.get(".zattrs", {})
        arrays: dict[str, tuple[dict, dict]] = {}
        for key, val in entries.items():
            if key.endswith("/.zarray"):
                name = key[: -len("/.zarray")]
                arrays[name] = (val, entries.get(f"{name}/.zattrs", {}))
        return attrs, dict(sorted(arrays.items()))
    group_attrs_path = os.path.join(path, ".zattrs")
    attrs = _read_json(group_attrs_path) if os.path.isfile(group_attrs_path) else {}
    arrays = {}
    for name in _array_dirs(path):
        zarray = _read_json(os.path.join(path, name, ".zarray"))
        zattrs_path = os.path.join(path, name, ".zattrs")
        zattrs = _read_json(zattrs_path) if os.path.isfile(zattrs_path) else {}
        arrays[name] = (zarray, zattrs)
    return attrs, arrays


class CFScaledArray:
    """CF attribute packing decode (xarray ``mask_and_scale`` parity):
    ``x = raw * scale_factor + add_offset`` with ``_FillValue`` /
    ``missing_value`` sentinels masked to NaN — the ERA5-style layout
    where the store holds int16 and the attrs carry the packing. Wraps a
    :class:`ZarrArray` lazily: the transform runs per block read, so
    selective reads stay selective and no decoded copy is materialized."""

    def __init__(self, inner, scale, offset, fills, out_dtype=np.float64,
                 view_dtype=None):
        self.inner = inner
        self.scale = scale
        self.offset = offset
        self.fills = tuple(fills)
        self.dtype = np.dtype(out_dtype)
        # CF _Unsigned: reinterpret the raw ints in the opposite-signedness
        # dtype BEFORE masking/scaling (xarray UnsignedIntegerCoder order)
        self.view_dtype = np.dtype(view_dtype) if view_dtype is not None else None
        self.shape = inner.shape
        self.chunks = inner.chunks

    @property
    def last_opened(self):  # read-log passthrough for pruning goldens
        return self.inner.last_opened

    def read_block(self, slices):
        raw = self.inner.read_block(slices)
        if self.view_dtype is not None:
            # same-width C cast == bit reinterpret (wraps negatives), and
            # normalizes byte order on the way
            raw = raw.astype(self.view_dtype)
        mask = None
        for fv in self.fills:
            m = raw == fv
            mask = m if mask is None else (mask | m)
        out = raw.astype(self.dtype) * self.dtype.type(self.scale) + self.dtype.type(
            self.offset
        )
        if mask is not None and mask.any():
            out[mask] = np.nan
        return out

    def values(self):
        return self.read_block(tuple(slice(0, n) for n in self.shape))


def _cf_decode_var(arr: ZarrArray, zattrs: dict):
    """xarray ``decode_cf`` (mask_and_scale) parity: packed variables
    (scale_factor/add_offset) decode lazily, and a bare
    ``_FillValue``/``missing_value`` on a NUMERIC variable still masks to
    NaN — xarray promotes such ints to float64 — even with no packing.
    Consumed attrs are dropped. Returns (array, attrs)."""
    packed = "scale_factor" in zattrs or "add_offset" in zattrs
    # CF _Unsigned (xarray UnsignedIntegerCoder, applied BEFORE mask/scale):
    # NetCDF-3 has no unsigned ints, so converters store them signed with
    # _Unsigned="true" — raw values >= 2^(bits-1) must reinterpret, or the
    # unpacked floats are silently wrong. "false" on a uint var is the
    # mirror case.
    uns = zattrs.get("_Unsigned")
    uns = uns.lower() if isinstance(uns, str) else uns
    view_dtype = None
    if uns in ("true", True) and arr.dtype.kind == "i":
        view_dtype = np.dtype(f"u{arr.dtype.itemsize}")
    elif uns in ("false", False) and arr.dtype.kind == "u":
        view_dtype = np.dtype(f"i{arr.dtype.itemsize}")
    eff_dtype = view_dtype or arr.dtype
    fills = []
    if arr.dtype.kind in "iuf":
        for key in ("_FillValue", "missing_value"):
            if zattrs.get(key) is not None:
                try:
                    # same-width wrap cast: a fill stored as -1 on an
                    # _Unsigned var means 255/65535/... (and vice versa).
                    # CF allows ARRAY-valued missing_value — flatten to
                    # one sentinel per element (a raw ndarray here would
                    # break the elementwise mask broadcast at read time)
                    val = np.array(zattrs[key]).astype(eff_dtype)
                    fills.extend(
                        [val[()]] if val.ndim == 0 else list(val.ravel())
                    )
                except (TypeError, ValueError, OverflowError):
                    pass
    if not packed and not fills and view_dtype is None:
        if "_Unsigned" in zattrs:  # consumed even when a no-op (a
            # redundant _Unsigned on an already-unsigned dtype), like
            # xarray's coder — the CF attr must not leak into var attrs
            return arr, {k: v for k, v in zattrs.items() if k != "_Unsigned"}
        return arr, zattrs
    scale = float(zattrs.get("scale_factor", 1.0))
    offset = float(zattrs.get("add_offset", 0.0))
    # packed or masked ints promote to float64 (xarray's rule); an
    # unpacked float keeps its own precision, it only gains the mask; a
    # bare _Unsigned reinterpret keeps the integer dtype (just unsigned)
    out_dtype = (
        arr.dtype if (not packed and arr.dtype.kind == "f")
        else eff_dtype if (not packed and not fills)
        else np.float64
    )
    kept = {
        k: v
        for k, v in zattrs.items()
        if k not in ("scale_factor", "add_offset", "_FillValue",
                     "missing_value", "_Unsigned")
    }
    return CFScaledArray(arr, scale, offset, fills, out_dtype, view_dtype), kept


def open_zarr(path: str, decode_cf: bool = True, load_coords: bool = True):
    """Open a Zarr v2 or v3 directory group as a lazy :class:`Dataset`.

    Coordinates (1-D arrays whose ``_ARRAY_DIMENSIONS`` / v3
    ``dimension_names`` entry is their own name, the xarray convention)
    load eagerly — they are small and drive the partition-bounds metadata.
    Data variables stay chunk-lazy; executors read only the chunk files
    their block overlaps (reference selective read:
    xarray_sql/reader.py:270-303).

    ``decode_cf`` (default on, xarray parity — the reference reads stores
    through ``xarray.open_zarr`` which decodes CF by default):
    Gregorian-like integer time coordinates ("hours since ...") decode to
    datetime64[us]; non-Gregorian calendars keep ints + attrs for the
    ``cftime()`` UDF tier; scale_factor/add_offset-packed variables
    decode lazily per block (:class:`CFScaledArray`).

    ``load_coords=False`` leaves the coordinates out (no chunk read, no
    decode): a scan task that carries its own opens just the data
    variables."""
    from xarray_sql_spark.dataset import Dataset, Variable

    if os.path.isfile(os.path.join(path, "zarr.json")):
        attrs, arrays = _load_group_metadata_v3(path)
    elif (
        os.path.isfile(os.path.join(path, ".zgroup"))
        or os.path.isfile(os.path.join(path, ".zmetadata"))
        or _array_dirs(path)
    ):
        attrs, arrays = _load_group_metadata(path)
    else:
        raise ValueError(f"{path}: not a Zarr v2/v3 group")

    coords: dict[str, np.ndarray] = {}
    coord_attrs: dict[str, dict] = {}
    data_vars: dict[str, Variable] = {}
    extra_coords: dict[str, Variable] = {}
    for name, (zarray_meta, zattrs) in arrays.items():
        arr = ZarrArray(os.path.join(path, name), zarray_meta)
        zattrs = dict(zattrs)
        dims = tuple(zattrs.pop(_ARRAY_DIMENSIONS, ()) or (f"dim_{i}" for i in range(len(arr.shape))))
        if dims == (name,) and len(arr.shape) == 1:
            if not load_coords:
                continue
            vals = arr.values()
            if vals.dtype == object:  # vlen strings -> fixed U for bounds
                vals = vals.astype(str)
            coords[name] = vals
            if zattrs:
                coord_attrs[name] = zattrs
        else:
            if decode_cf:
                arr, zattrs = _cf_decode_var(arr, zattrs)
            data_vars[name] = Variable(dims, arr, zattrs)

    if decode_cf:
        # CF time decode at open (the store-backed scan re-opens on the
        # EXECUTOR, so registration-time decoding alone would leave raw
        # ints in the pivoted rows — this is the one place both paths
        # share). Same tier rule as XarraySession._apply_cf_time.
        from xarray_sql_spark.functions.cftime import (
            decode_to_timestamps,
            is_gregorian_like,
        )

        for name in list(coords):
            cattrs = coord_attrs.get(name) or {}
            units = str(cattrs.get("units", ""))
            if "since" not in units or coords[name].dtype.kind not in "iu":
                continue
            cal = str(cattrs.get("calendar", "standard"))
            try:
                if not is_gregorian_like(cal):
                    continue  # tier 2: ints + attrs for the cftime() UDF
                coords[name] = decode_to_timestamps(coords[name], units, cal)
            except ValueError:
                continue  # unparseable units: leave raw (fail open)
            coord_attrs[name] = {
                k: v for k, v in cattrs.items() if k not in ("units", "calendar")
            }

    ds = Dataset(data_vars, coords, attrs, extra_coords)
    ds.coord_attrs = coord_attrs
    return ds


def _v3_data_type(dtype: np.dtype):
    if dtype.kind == "M":
        unit = np.datetime_data(dtype)[0]
        return {
            "name": "numpy.datetime64",
            "configuration": {"unit": unit, "scale_factor": 1},
        }
    if dtype.kind in ("U", "O"):
        return "string"  # variable-length, via the vlen-utf8 codec
    return dtype.name  # float64 / int64 / bool / ...


# -- the write side: one metadata builder, one chunk encoder, one group
# commit — shared by write_zarr, append_zarr and operators/zarr_sink --------


def _jsonable(obj: Any) -> Any:
    return json.loads(json.dumps(obj, default=str))


def _write_file(fname: str, data: bytes) -> None:
    """Commit ``data`` as ``fname`` atomically: an attempt-unique temp file,
    then ``os.replace``. A concurrent reader, a crash mid-write or a
    speculative twin task attempt sees the complete old or the complete
    new bytes, never a short file; a retry rewrites the same bytes."""
    import uuid

    os.makedirs(os.path.dirname(fname), exist_ok=True)
    tmp = f"{fname}.__tmp_{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, fname)


def _write_json(fname: str, doc: dict) -> None:
    _write_file(fname, json.dumps(doc).encode())


def chunk_grid(
    dims: tuple[str, ...],
    shape: tuple[int, ...],
    chunks: Mapping[str, int] | None,
    shards: Mapping[str, int] | None = None,
) -> tuple[tuple[int, ...], tuple[int, ...] | None]:
    """(chunk shape, shard shape or None) from per-dim requests: a dim
    missing from a request spans the array, requests clip to the array,
    and a shard shape rounds down to a whole multiple of the chunk shape
    (at least one chunk) as the sharding spec requires."""

    def clip(req: Mapping[str, int]) -> tuple[int, ...]:
        return tuple(min(req.get(d, n), n) if n else 1 for d, n in zip(dims, shape))

    chunk_shape = clip(chunks or {})
    if not shards:
        return chunk_shape, None
    return chunk_shape, tuple(
        (s // c) * c if s >= c else c for s, c in zip(clip(shards), chunk_shape)
    )


def _v3_codecs(dtype: np.dtype, compressor: dict | None) -> list[dict]:
    """The v3 array->bytes codec plus the v3 spelling of the internal
    ``{"id": ...}`` compressor dict (what ``_compress`` produces). String
    arrays take ``vlen-utf8`` in place of ``bytes``; v3's core spec
    registers gzip but not raw zlib, so zlib is spelled gzip; numcodecs-
    framed lz4 has no v3 codec name (use blosc+lz4 instead)."""
    vlen = dtype.kind in ("U", "O")
    typesize = 1 if vlen else dtype.itemsize
    codecs: list[dict] = [
        {"name": "vlen-utf8"}
        if vlen
        else {"name": "bytes", "configuration": {"endian": "little"}}
    ]
    if compressor is None:
        return codecs
    cid = compressor.get("id")
    if cid in ("gzip", "zlib"):
        codecs.append({"name": "gzip", "configuration": {"level": compressor.get("level", 1)}})
    elif cid == "zstd":
        codecs.append(
            {"name": "zstd", "configuration": {"level": compressor.get("level", 0), "checksum": False}}
        )
    elif cid == "blosc":
        shuffle = {0: "noshuffle", 1: "shuffle", 2: "bitshuffle"}[
            compressor.get("shuffle", 1) if compressor.get("shuffle", 1) != -1 else (1 if typesize > 1 else 0)
        ]
        codecs.append(
            {
                "name": "blosc",
                "configuration": {
                    "cname": compressor.get("cname", "lz4"),
                    "clevel": compressor.get("clevel", 5),
                    "shuffle": shuffle,
                    "typesize": typesize,
                    "blocksize": compressor.get("blocksize", 0),
                },
            }
        )
    else:
        raise NotImplementedError(f"no Zarr v3 codec spelling for compressor {cid!r}")
    return codecs


def array_meta(
    zarr_format: int,
    shape: tuple[int, ...],
    chunks: tuple[int, ...],
    dtype: np.dtype,
    dims: tuple[str, ...],
    attrs: Mapping | None = None,
    compressor: dict | None = None,
    shards: tuple[int, ...] | None = None,
) -> tuple[dict, dict | None]:
    """Metadata of one array as :func:`write_group` commits it:
    ``(.zarray, .zattrs)`` for v2, ``(zarr.json, None)`` for v3.
    ``ZarrArray(array_dir, meta)`` then encodes chunks for it without
    touching disk. String (``U``/``O``) arrays take the vlen-utf8 layout
    (v2 filter, v3 ``string`` data type); ``shards`` (v3 only), a shard
    shape from :func:`chunk_grid`, wraps the codec chain in
    ``sharding_indexed`` with a crc32c-checked index at the shard's end.
    Fill values read back absent cells as NaN (floats), NaT (datetimes),
    "" (strings) or 0."""
    dtype = np.dtype(dtype)
    vlen = dtype.kind in ("U", "O")
    if zarr_format == 2:
        meta = {
            "zarr_format": 2,
            "shape": list(shape),
            "chunks": list(chunks),
            "dtype": "|O" if vlen else dtype.str,
            "compressor": compressor,
            "fill_value": "NaN" if dtype.kind == "f" else None if dtype.kind == "M" else 0,
            "order": "C",
            "filters": [{"id": "vlen-utf8"}] if vlen else None,
        }
        return meta, _jsonable({_ARRAY_DIMENSIONS: list(dims), **(attrs or {})})
    codecs = _v3_codecs(dtype, compressor)
    if shards:
        codecs = [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(chunks),
                    "codecs": codecs,
                    "index_codecs": [
                        {"name": "bytes", "configuration": {"endian": "little"}},
                        {"name": "crc32c"},
                    ],
                    "index_location": "end",
                },
            }
        ]
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": _v3_data_type(dtype),
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(shards or chunks)},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": "/"},
        },
        # datetime fill is the NaT sentinel so sparse chunks read back
        # exactly like the v2 dialect's null fill (both -> NaT)
        "fill_value": (
            "NaN"
            if dtype.kind == "f"
            else -(2**63)
            if dtype.kind == "M"
            else ""
            if vlen
            else 0
        ),
        "codecs": codecs,
        "dimension_names": list(dims),
        "attributes": _jsonable(dict(attrs or {})),
    }
    return meta, None


def write_group(
    path: str,
    zarr_format: int,
    arrays: Mapping[str, tuple[dict, dict | None]],
    attrs: Mapping | None = None,
) -> None:
    """Commit a group's metadata, in the order of ``arrays`` (name ->
    :func:`array_meta` pair): every array's documents, then the group's
    own, then its consolidated metadata (v2 ``.zmetadata``; v3 inline in
    the root ``zarr.json``). Writers put every chunk on disk BEFORE this,
    so a reader that can open the group finds every chunk it names."""
    attrs = _jsonable(dict(attrs or {}))
    if zarr_format == 3:
        for name, (meta, _) in arrays.items():
            _write_json(os.path.join(path, name, "zarr.json"), meta)
        root = {
            "zarr_format": 3,
            "node_type": "group",
            "attributes": attrs,
            "consolidated_metadata": {
                "kind": "inline",
                "must_understand": False,
                "metadata": {name: meta for name, (meta, _) in arrays.items()},
            },
        }
        _write_json(os.path.join(path, "zarr.json"), root)
        return
    consolidated: dict[str, Any] = {".zgroup": {"zarr_format": 2}}
    if attrs:
        consolidated[".zattrs"] = attrs
    for name, (meta, zattrs) in arrays.items():
        _write_json(os.path.join(path, name, ".zarray"), meta)
        _write_json(os.path.join(path, name, ".zattrs"), zattrs)
        consolidated[f"{name}/.zarray"] = meta
        consolidated[f"{name}/.zattrs"] = zattrs
    for key in (".zgroup", ".zattrs"):
        if key in consolidated:
            _write_json(os.path.join(path, key), consolidated[key])
    # consolidated metadata (xarray's consolidated=True default): readers
    # get the whole group's metadata in one file read
    _write_json(
        os.path.join(path, ".zmetadata"),
        {"zarr_consolidated_format": 1, "metadata": consolidated},
    )


def write_zarr(
    ds,
    path: str,
    chunks: Mapping[str, int] | None = None,
    compressor: dict | None = {"id": "zlib", "level": 1},
    zarr_format: int = 2,
    shards: Mapping[str, int] | None = None,
) -> str:
    """Write a :class:`Dataset` as a Zarr v2 (default) or v3 directory tree
    with consolidated metadata (the twin of xarray's ``to_zarr``; real
    stores read back through the same :func:`open_zarr`). Edge chunks are
    padded to full chunk shape with zeros ("" for strings); all-fill
    chunks are still written (simplicity over sparseness — the reader
    handles both). ``shards`` (v3 only) writes every array with a dim in
    ``shards`` through the ``sharding_indexed`` codec. Chunks land first
    and metadata last (:func:`write_group`)."""
    if shards and zarr_format != 3:
        raise ValueError("shards requires zarr_format=3")
    arrays: dict[str, tuple[dict, dict | None]] = {}

    def write_array(name: str, dims: tuple[str, ...], data: np.ndarray, attrs: dict):
        data = np.asarray(data)
        chunk_shape, shard_shape = chunk_grid(
            dims, data.shape, chunks,
            shards if shards and any(d in shards for d in dims) else None,
        )
        arrays[name] = array_meta(
            zarr_format, data.shape, chunk_shape, data.dtype, dims, attrs,
            compressor, shard_shape,
        )
        ZarrArray(os.path.join(path, name), arrays[name][0]).write(data)

    for d, c in ds.coords.items():
        write_array(d, (d,), c, ds.coord_attrs.get(d, {}))
    for name, var in ds.data_vars.items():
        write_array(name, var.dims, var.values(), var.attrs)
    write_group(path, zarr_format, arrays, ds.attrs)
    return path


def append_zarr(slab, path: str, dim: str) -> str:
    """Append a Dataset slab along ``dim`` to an existing Zarr v2 store.

    Follows the append commit protocol streaming readers rely on (and
    zarr-python's ``Array.append`` implements): ALL new chunk files are
    written first, the shape in the array metadata is updated LAST — a
    reader that observes the new shape is guaranteed to find the chunks.
    The existing length along ``dim`` must be chunk-aligned (a partial
    trailing chunk would need a read-modify-write of a committed file,
    which breaks reader idempotence); appends themselves may be any size.
    """
    zmeta_path = os.path.join(path, ".zmetadata")
    consolidated = _read_json(zmeta_path)["metadata"] if os.path.isfile(zmeta_path) else None

    def _meta(name: str) -> dict:
        return _read_json(os.path.join(path, name, ".zarray"))

    coord_meta = _meta(dim)
    old_n = int(coord_meta["shape"][0])
    # Validate EVERY array being appended BEFORE any chunk file lands.
    # Alignment must hold per array: new chunks are addressed from
    # old_n // that array's own chunk size along the append axis, so a
    # var whose chunk does not divide old_n (possible even when
    # the coord's does — e.g. a coord stored as one full-length chunk)
    # would silently overwrite the committed trailing chunk with
    # zero-padded data at the wrong offset.
    appended = [
        (dim, (dim,), np.asarray(slab.coords[dim]).dtype, (len(slab.coords[dim]),))
    ] + [
        (n, var.dims, var.dtype, var.shape)
        for n, var in slab.data_vars.items()
        if dim in var.dims
    ]
    # Completeness: every store array that spans the append dim must be in
    # the slab — a partial append would commit conflicting shapes along
    # ``dim`` and the store could never be opened again.
    slab_names = {name for name, *_ in appended}
    for entry in sorted(os.listdir(path)):
        zarray = os.path.join(path, entry, ".zarray")
        zattrs = os.path.join(path, entry, ".zattrs")
        if entry in slab_names or not os.path.isfile(zarray):
            continue
        store_dims = (
            _read_json(zattrs).get("_ARRAY_DIMENSIONS", [])
            if os.path.isfile(zattrs)
            else []
        )
        if dim in store_dims:
            raise ValueError(
                f"append along {dim!r} must include every array spanning "
                f"it; store array {entry!r} is missing from the slab (a "
                f"partial append would commit conflicting {dim!r} sizes "
                f"and brick the store)"
            )
    metas: dict[str, dict] = {}
    for name, dims_, slab_dtype, slab_shape in appended:
        meta = metas[name] = _meta(name)
        # Non-append dims must match the store exactly: the chunk writer
        # would silently zero-pad a short slab (fabricated values inside
        # the valid shape) or overflow chunk addressing on a long one.
        for ax, (d_, n_slab) in enumerate(zip(dims_, slab_shape)):
            if d_ != dim and n_slab != int(meta["shape"][ax]):
                raise ValueError(
                    f"append to {name!r}: size {n_slab} along {d_!r} does "
                    f"not match the store's {int(meta['shape'][ax])}"
                )
        chunk_n = int(meta["chunks"][dims_.index(dim)])
        if old_n % chunk_n:
            raise NotImplementedError(
                f"append requires the existing {dim} length ({old_n}) to be "
                f"a multiple of {name!r}'s chunk size along {dim} ({chunk_n})"
            )
        # refuse filtered arrays too: appended chunks would be unfiltered
        # bytes under filter-declaring metadata -> silent corruption on read
        if meta.get("filters"):
            raise NotImplementedError(
                f"append to filtered array {name!r} is not supported"
            )
        # appends happen in the store's RAW encoded domain. A slab from a
        # CF-decoded open (datetime64 time over an int 'hours since'
        # coord; unpacked floats over a scale/offset-packed int16 var)
        # would be astype-cast into garbage under CF-declaring metadata —
        # refuse any cross-kind cast instead of wrapping silently.
        stored = _parse_dtype(meta["dtype"])
        if stored.kind != "O" and not np.can_cast(
            slab_dtype, stored, casting="same_kind"
        ):
            raise NotImplementedError(
                f"append to {name!r}: slab dtype {slab_dtype} does not "
                f"same-kind-cast to the stored dtype {stored}; append in "
                f"the store's raw encoded domain (for CF-encoded stores, "
                f"re-open with decode_cf=False)"
            )

    # chunks first: each array's new keys start at the chunk-aligned old
    # length along ``dim``, encoded in the array's own order, key encoding
    # and codec
    for name, dims_, *_ in appended:
        data = np.asarray(slab.coords[dim]) if name == dim else slab.data_vars[name].values()
        start = tuple(old_n if d_ == dim else 0 for d_ in dims_)
        ZarrArray(os.path.join(path, name), metas[name]).write(data, start)
        metas[name]["shape"][dims_.index(dim)] += data.shape[dims_.index(dim)]

    # commit point: shapes become visible only after every chunk is on disk
    for name, meta in metas.items():
        _write_json(os.path.join(path, name, ".zarray"), meta)
        if consolidated is not None:
            consolidated[f"{name}/.zarray"] = meta
    if consolidated is not None:
        _write_json(zmeta_path, {"zarr_consolidated_format": 1, "metadata": consolidated})
    return path
