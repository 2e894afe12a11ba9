"""Dataset.isel indexing semantics (xarray parity; ADVICE r1 medium).

Reference behavior being mirrored: xarray positional selection — integer
indexers drop the dimension, 1-D array indexers on multiple dims combine
OUTER-style (cross product), and store-backed reads touch only the covering
slice of each requested extent (reference xarray_sql/reader.py:270-303).
No xarray in the container, so expectations are hand-computed numpy.
"""

from __future__ import annotations

import numpy as np
import pytest

from xarray_sql_spark.dataset import Dataset, Variable
from xarray_sql_spark.zarr_store import write_zarr


@pytest.fixture
def ds() -> Dataset:
    t = np.arange(4)
    y = np.arange(5) * 10.0
    x = np.arange(3) * 100.0
    temp = np.arange(4 * 5 * 3, dtype=np.float64).reshape(4, 5, 3)
    mask = (np.arange(5 * 3) % 2).reshape(5, 3).astype(np.int32)
    return Dataset(
        {"temp": (("t", "y", "x"), temp), "mask": (("y", "x"), mask)},
        {"t": t, "y": y, "x": x},
    )


def test_isel_slice_passthrough(ds):
    out = ds.isel({"t": slice(1, 3)})
    assert out.sizes == {"t": 2, "y": 5, "x": 3}
    np.testing.assert_array_equal(out.coords["t"], [1, 2])
    np.testing.assert_array_equal(
        out.data_vars["temp"].values(), ds.data_vars["temp"].values()[1:3]
    )


def test_isel_int_drops_dim(ds):
    out = ds.isel({"t": 2})
    assert out.data_vars["temp"].dims == ("y", "x")
    assert "t" not in out.coords
    assert out.sizes == {"y": 5, "x": 3}
    np.testing.assert_array_equal(
        out.data_vars["temp"].values(), ds.data_vars["temp"].values()[2]
    )
    # Variable without the dim is untouched.
    np.testing.assert_array_equal(
        out.data_vars["mask"].values(), ds.data_vars["mask"].values()
    )


def test_isel_negative_int(ds):
    out = ds.isel({"t": -1})
    np.testing.assert_array_equal(
        out.data_vars["temp"].values(), ds.data_vars["temp"].values()[3]
    )


def test_isel_multi_array_outer_indexing(ds):
    # xarray outer semantics: 2x2 cross product, NOT numpy pairwise.
    out = ds.isel({"y": np.array([0, 3]), "x": np.array([2, 0])})
    assert out.sizes == {"t": 4, "y": 2, "x": 2}
    expected = ds.data_vars["temp"].values()[:, [0, 3], :][:, :, [2, 0]]
    np.testing.assert_array_equal(out.data_vars["temp"].values(), expected)
    np.testing.assert_array_equal(out.coords["y"], [0.0, 30.0])
    np.testing.assert_array_equal(out.coords["x"], [200.0, 0.0])


def test_isel_mixed_int_array_slice(ds):
    out = ds.isel({"t": 1, "y": np.array([4, 1]), "x": slice(0, 2)})
    assert out.data_vars["temp"].dims == ("y", "x")
    expected = ds.data_vars["temp"].values()[1][[4, 1], 0:2]
    np.testing.assert_array_equal(out.data_vars["temp"].values(), expected)


def test_isel_negative_array_indices(ds):
    out = ds.isel({"x": np.array([-1, 0])})
    expected = ds.data_vars["temp"].values()[:, :, [2, 0]]
    np.testing.assert_array_equal(out.data_vars["temp"].values(), expected)


def test_isel_empty_array(ds):
    out = ds.isel({"y": np.array([], dtype=np.intp)})
    assert out.sizes["y"] == 0
    assert out.data_vars["temp"].shape == (4, 0, 3)


def test_isel_rejects_2d_indexer(ds):
    with pytest.raises(ValueError, match="1-D"):
        ds.isel({"y": np.zeros((2, 2), dtype=int)})


def test_isel_store_backed_matches_memory(ds, tmp_path):
    store = write_zarr(ds, str(tmp_path / "grid"), chunks={"t": 2, "y": 2})
    lazy = Dataset.open_store(store)
    for idx in (
        {"t": 2},
        {"y": np.array([0, 3]), "x": np.array([2, 0])},
        {"t": slice(1, 3), "x": np.array([1])},
    ):
        a = ds.isel(idx)
        b = lazy.isel(idx)
        for name in a.data_vars:
            np.testing.assert_array_equal(
                a.data_vars[name].values(), b.data_vars[name].values()
            )


def test_isel_indexes_extra_coords():
    ds = Dataset(
        {"v": (("t",), np.arange(4.0))},
        {"t": np.arange(4)},
        extra_coords={"label": Variable(("t",), np.array(["a", "b", "c", "d"]))},
    )
    out = ds.isel({"t": np.array([3, 1])})
    np.testing.assert_array_equal(out.extra_coords["label"].values(), ["d", "b"])


def test_isel_boolean_mask_semantics():
    """1-D boolean indexers are masks (xarray semantics), not 0/1 positions
    (round-2 ADVICE)."""
    import numpy as np

    from xarray_sql_spark.dataset import Dataset

    data = np.arange(12.0).reshape(4, 3)
    ds = Dataset(
        {"v": (("x", "y"), data)},
        {"x": np.array([10, 20, 30, 40]), "y": np.array([1, 2, 3])},
    )
    mask = np.array([True, False, True, False])
    sub = ds.isel({"x": mask})
    np.testing.assert_array_equal(sub.coords["x"], [10, 30])
    np.testing.assert_array_equal(sub.data_vars["v"].values(), data[[0, 2]])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="length"):
        ds.isel({"x": np.array([True, False])})


def test_isel_unknown_dim_raises():
    import numpy as np
    import pytest as _pytest

    from xarray_sql_spark.dataset import Dataset

    ds = Dataset(
        {"v": (("x",), np.arange(3.0))},
        {"x": np.array([1, 2, 3])},
    )
    with _pytest.raises(ValueError, match="unknown dimension"):
        ds.isel({"z": 0})


def test_from_xarray_duck_typed():
    """from_xarray maps the xarray.Dataset shape (duck-typed stand-in:
    the container has no xarray wheel) — dim coords + attrs, non-dim
    coords, var attrs/encoding, global attrs — and the result registers
    and queries like a native Dataset."""
    import types

    import numpy as np

    from xarray_sql_spark.dataset import Dataset

    def _da(dims, values, attrs=None, encoding=None):
        return types.SimpleNamespace(
            dims=tuple(dims), values=np.asarray(values),
            attrs=attrs or {}, encoding=encoding or {},
        )

    t = np.arange(4, dtype=np.int64)
    y = np.arange(3, dtype=np.int64)
    fake = types.SimpleNamespace(
        data_vars={"v": _da(("t", "y"), np.arange(12.0).reshape(4, 3),
                            attrs={"units": "K"}, encoding={"dtype": "f8"})},
        coords={
            "t": _da(("t",), t, attrs={"axis": "T"}),
            "y": _da(("y",), y),
            "lat2d": _da(("t", "y"), np.ones((4, 3))),
        },
        attrs={"title": "demo"},
    )
    ds = Dataset.from_xarray(fake)
    assert set(ds.data_vars) == {"v"}
    assert ds.data_vars["v"].attrs == {"units": "K"}
    assert ds.data_vars["v"].encoding == {"dtype": "f8"}
    np.testing.assert_array_equal(ds.coords["t"], t)
    assert ds.coord_attrs["t"] == {"axis": "T"}
    assert "lat2d" in ds.extra_coords and ds.extra_coords["lat2d"].dims == ("t", "y")
    assert ds.attrs == {"title": "demo"}
    assert ds.sizes == {"t": 4, "y": 3}


def test_from_xarray_real_wheel_if_present():
    """Runs only when a real xarray is installed (not in this container):
    the adapter must accept the genuine article unchanged."""
    xr = pytest.importorskip("xarray")
    import numpy as np

    from xarray_sql_spark.dataset import Dataset

    xds = xr.Dataset(
        {"v": (("t",), np.arange(5.0))}, coords={"t": np.arange(5)}
    )
    ds = Dataset.from_xarray(xds)
    np.testing.assert_array_equal(ds.data_vars["v"].values(), np.arange(5.0))
