"""One Zarr write format: every writer encodes, shards and commits through
``zarr_store`` (``array_meta`` / ``ZarrArray.write_chunk`` /
``write_group``), so the eager and the distributed writer agree byte for
byte, and no other module carries an encoder of its own."""

from __future__ import annotations

import ast
import glob
import os

import numpy as np
import pytest

from xarray_sql_spark.dataset import Dataset, Variable

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "xarray_sql_spark")


@pytest.mark.parametrize(
    "fmt,shards", [(2, None), (3, None), (3, {"t": 4, "y": 4})], ids=["v2", "v3", "v3-shards"]
)
def test_write_zarr_and_sink_write_identical_bytes(spark, tmp_path, fmt, shards):
    """The same float32 + string grid written eagerly (``write_zarr``) and
    from executors (``write_zarr_distributed``) on an evenly dividing
    chunk grid: every data-variable chunk (or shard) file and metadata
    document is byte-identical. Coordinate arrays legitimately differ in
    layout (``write_zarr`` chunks them along their dim, the sink writes
    each axis as one chunk), so they are only checked to read back."""
    from xarray_sql_spark.operators.zarr_sink import write_zarr_distributed
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    t = np.arange(8, dtype=np.int64)
    y = np.arange(4, dtype=np.int64)
    f = (t[:, None] * 0.75 - y[None, :] * 1.5).astype(np.float32)
    s = np.array([[f"s{a}-{'x' * b}" for b in y] for a in t], dtype=object)
    ds = Dataset({"f": Variable(("t", "y"), f), "s": Variable(("t", "y"), s)}, {"t": t, "y": y})
    chunks = {"t": 2, "y": 2}
    eager, dist = str(tmp_path / "eager.zarr"), str(tmp_path / "dist.zarr")
    write_zarr(ds, eager, chunks=chunks, zarr_format=fmt, shards=shards)
    rows = [(int(a), int(b), float(f[a, b]), s[a, b]) for a in t for b in y]
    df = spark.createDataFrame(rows, "t long, y long, f float, s string")
    write_zarr_distributed(df, dist, ["t", "y"], chunks=chunks, zarr_format=fmt, shards=shards)

    def files(root, var):
        return sorted(
            os.path.relpath(os.path.join(d, name), root)
            for d, _, names in os.walk(os.path.join(root, var))
            for name in names
        )

    for var in ("f", "s"):
        written = files(eager, var)
        assert written == files(dist, var)
        assert len(written) == (2 if fmt == 2 else 1) + (2 if shards else 8)
        for rel in written:
            with open(os.path.join(eager, rel), "rb") as a, open(os.path.join(dist, rel), "rb") as b:
                assert a.read() == b.read(), rel
    back = open_zarr(dist)
    np.testing.assert_array_equal(back.data_vars["f"].values(), f)
    np.testing.assert_array_equal(back.data_vars["s"].values(), s)
    np.testing.assert_array_equal(back.coords["t"], t)


@pytest.mark.parametrize("fmt", [2, 3])
def test_write_zarr_zero_dim_variable(tmp_path, fmt):
    """A 0-d variable is one chunk with shape [] and chunks []; it reads
    back as a 0-d value next to the gridded variables."""
    from xarray_sql_spark.zarr_store import open_zarr, write_zarr

    lat = np.linspace(-30.0, 30.0, 5)
    ds = Dataset({"z": Variable((), np.array(2.5)), "w": Variable(("lat",), lat * 2)}, {"lat": lat})
    path = str(tmp_path / "zd.zarr")
    write_zarr(ds, path, chunks={"lat": 2}, zarr_format=fmt)
    back = open_zarr(path)
    assert back.data_vars["z"].dims == ()
    assert back.data_vars["z"].values() == np.array(2.5)
    np.testing.assert_array_equal(back.data_vars["w"].values(), lat * 2)


def test_sink_edge_shard_records_past_end_chunks_absent(spark, tmp_path):
    """Inner chunks of an edge shard that lie wholly past the array's end
    are indexed as absent (all-ones offset/nbytes), as ``write_zarr``
    does; the store reads back exactly, and no temp file is left over."""
    from xarray_sql_spark.operators.zarr_sink import write_zarr_distributed
    from xarray_sql_spark.zarr_store import open_zarr

    df = spark.range(10).selectExpr("id AS t", "CAST(id AS DOUBLE) * 0.5 AS v")
    path = str(tmp_path / "edge.zarr")
    write_zarr_distributed(df, path, ["t"], chunks={"t": 2}, zarr_format=3, shards={"t": 8})
    with open(os.path.join(path, "v", "c", "1"), "rb") as fh:
        raw = fh.read()
    table = np.frombuffer(raw[-(16 * 4 + 4):-4], dtype="<u8").reshape(4, 2)
    assert table[0, 0] == 0 and (table[1:] == 0xFFFFFFFFFFFFFFFF).all()
    np.testing.assert_array_equal(open_zarr(path).data_vars["v"].values(), np.arange(10) * 0.5)
    assert not glob.glob(os.path.join(path, "**", "*__tmp_*"), recursive=True)


# -- structural guard: the write format lives in zarr_store.py only ---------

_ENCODER_PRIVATES = {"_compress", "_vlen_encode", "_crc32c"}
_METADATA_FILES = (".zarray", "zarr.json", ".zmetadata")
# Hand-built numcodecs fixtures: byte-exact independently of our writer
# on purpose, so they spell the format themselves.
_EXEMPT = {
    ("queries/grid_queries.py", "gq15_filtered_store"),
    ("queries/grid_queries.py", "gq18_cf_decoded_store"),
    ("queries/grid_queries.py", "gq23_longtail_codec_store"),
}


def _names_metadata_file(node: ast.AST, tainted: set[str]) -> bool:
    for sub in ast.walk(node):
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            if sub.value.endswith(_METADATA_FILES):
                return True
        if isinstance(sub, ast.Name) and sub.id in tainted:
            return True
    return False


def _is_write_open(call: ast.Call) -> bool:
    if not (isinstance(call.func, ast.Name) and call.func.id == "open"):
        return False
    mode = call.args[1] if len(call.args) > 1 else next(
        (k.value for k in call.keywords if k.arg == "mode"), None
    )
    return isinstance(mode, ast.Constant) and any(c in str(mode.value) for c in "wax")


def _format_violations(source: str, rel: str) -> list[str]:
    """Encoder privates referenced, and Zarr metadata files opened for
    writing (directly or through a variable holding such a path), per
    top-level definition of one module."""
    out = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", "<module>")
        if (rel, owner) in _EXEMPT:
            continue
        tainted = {
            t.id
            for node in ast.walk(top)
            if isinstance(node, ast.Assign) and _names_metadata_file(node.value, set())
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(top):
            names = (
                [node.id] if isinstance(node, ast.Name)
                else [node.attr] if isinstance(node, ast.Attribute)
                else [a.name for a in node.names] if isinstance(node, ast.ImportFrom)
                else []
            )
            out += [f"{rel}:{node.lineno} {owner} uses {n}" for n in names if n in _ENCODER_PRIVATES]
            if (
                isinstance(node, ast.Call)
                and _is_write_open(node)
                and node.args
                and _names_metadata_file(node.args[0], tainted)
            ):
                out.append(f"{rel}:{node.lineno} {owner} writes Zarr metadata")
    return out


def test_only_zarr_store_encodes_or_writes_zarr_metadata():
    violations = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        if rel == "zarr_store.py":
            continue
        with open(path) as fh:
            violations += _format_violations(fh.read(), rel)
    assert violations == []


def test_format_guard_flags_hand_rolled_writers():
    """The scan itself catches each way a module could grow its own
    writer back, and honours the fixture exemption by name only."""
    src = '''
from xarray_sql_spark.zarr_store import _compress

def sink(path, meta):
    with open(os.path.join(path, ".zarray"), "w") as f:
        json.dump(meta, f)
    root = os.path.join(path, "zarr.json")
    with open(root, mode="w") as f:
        json.dump(meta, f)
    with open(os.path.join(path, ".zmetadata")) as f:
        return zs._crc32c(f.read())

def gq15_filtered_store(path):
    open(os.path.join(path, ".zarray"), "w")
'''
    def kinds(rel):
        return sorted(tuple(v.split()[1:3]) for v in _format_violations(src, rel))

    # the import, the attribute and both write-mode opens; not the read
    assert kinds("operators/x.py") == [
        ("<module>", "uses"), ("gq15_filtered_store", "writes"),
        ("sink", "uses"), ("sink", "writes"), ("sink", "writes"),
    ]
    assert kinds("queries/grid_queries.py") == [
        ("<module>", "uses"), ("sink", "uses"), ("sink", "writes"), ("sink", "writes"),
    ]
