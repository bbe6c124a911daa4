"""Execute the NetCDF decode/encode LOGIC without the C library.

netCDF4 is absent from this container, so ``read_wrf_grid`` /
``write_netcdf_grid`` take injectable dataset factories.  These tests
drive the real Spark plans (binaryFile scan → mapInArrow decode;
groupBy → applyInPandas encode) against a pickle-backed stub "codec"
that honours the exact surface the reference files expose
(wrf_data_pusher.py:143-279): WRF-style 3-D XLAT/XLONG indexing, the
``XTIME.description`` vs v1 ``.units`` epoch encodings, masked arrays,
and hyperslab slicing.  Only the C-library call itself remains
untested here.
"""

from __future__ import annotations

import pickle

import numpy as np
import pytest

from curw_wrf_data_pusher_spark.sources.netcdf import (
    read_wrf_grid,
    write_netcdf_grid,
)


def stub_open(content: bytes):
    """bytes -> dataset-like, inverse of the stub writer.  Classes are
    nested so cloudpickle ships everything by value to executors."""

    class _Var:
        def __init__(self, data, attrs):
            self._d = data
            for k, v in attrs.items():
                setattr(self, k, v)

        def __getitem__(self, idx):
            return self._d[idx]

        @property
        def shape(self):
            return self._d.shape

    class _DS:
        def __init__(self, payload):
            self.variables = {
                name: _Var(
                    np.ma.masked_invalid(arr) if masked else np.asarray(arr),
                    attrs,
                )
                for name, (arr, attrs, masked) in payload["vars"].items()
            }

        def close(self):
            pass

    return _DS(pickle.loads(content))


def stub_create(out_path: str):
    """path -> dataset-like recorder; close() persists the captured
    variables in the exact payload format ``stub_open`` reads, so
    write → read round-trips."""

    class _WVar:
        def __init__(self, store, name):
            self._store, self._name = store, name
            self._attrs = {}

        def __setitem__(self, idx, value):
            self._store["vars"][self._name][0] = np.asarray(value)

        def __setattr__(self, k, v):
            if k.startswith("_"):
                object.__setattr__(self, k, v)
            else:
                self._attrs[k] = v
                self._store["vars"][self._name][1][k] = v

    class _WDS:
        def __init__(self, path):
            self._path = path
            self._store = {"dims": {}, "vars": {}}

        def createDimension(self, name, size):
            self._store["dims"][name] = size

        def createVariable(self, name, dtype, dims, fill_value=None):
            self._store["vars"][name] = [None, {}, False]
            return _WVar(self._store, name)

        def close(self):
            # freeze mutable lists into the (arr, attrs, masked) tuples
            payload = {
                "dims": self._store["dims"],
                "vars": {
                    k: (v[0], v[1], bool(np.isnan(np.asarray(v[0])).any()))
                    for k, v in self._store["vars"].items()
                },
            }
            with open(self._path, "wb") as f:
                pickle.dump(payload, f)

    return _WDS(out_path)


def _make_nc_bytes(
    lats, lons, xtime_minutes, cube, epoch="2024-06-01 00:00:00",
    epoch_attr="description", mask_cell=None,
):
    """Payload mimicking a WRF d03 file: 3-D XLAT/XLONG (Time,
    south_north, west_east), XTIME with the epoch on either the v2
    ``description`` or v1 ``units`` attribute, cumulative RAINNC."""
    lats = np.asarray(lats, dtype="f8")
    lons = np.asarray(lons, dtype="f8")
    cube = np.asarray(cube, dtype="f8").copy()
    n_t = len(xtime_minutes)
    xlat3 = np.broadcast_to(
        lats[None, :, None], (n_t, len(lats), len(lons))
    ).copy()
    xlong3 = np.broadcast_to(
        lons[None, None, :], (n_t, len(lats), len(lons))
    ).copy()
    if mask_cell is not None:
        cube[mask_cell] = np.nan
    payload = {
        "dims": {},
        "vars": {
            "XLAT": (xlat3, {}, False),
            "XLONG": (xlong3, {}, False),
            "XTIME": (
                np.asarray(xtime_minutes, dtype="i8"),
                {epoch_attr: f"minutes since {epoch}"},
                False,
            ),
            "RAINNC": (cube, {}, mask_cell is not None),
        },
    }
    return pickle.dumps(payload)


LATS = [6.0, 6.7, 7.1, 7.9]       # Kelani bbox (6.6-7.4) keeps rows 1-2
LONS = [79.3, 79.7, 80.2, 80.7, 81.4]  # Kelani (79.6-81.0) keeps 1-3
KELANI = {"lat_min": 6.6, "lat_max": 7.4, "lon_min": 79.6, "lon_max": 81.0}


def _write_file(tmp_path, name, content):
    d = tmp_path / "wrfA"
    d.mkdir(exist_ok=True)
    (d / name).write_bytes(content)
    return str(tmp_path)


def test_decode_bbox_hyperslab_epoch_description_and_mask(spark, tmp_path):
    cube = np.arange(2 * 4 * 5, dtype="f8").reshape(2, 4, 5)
    content = _make_nc_bytes(
        LATS, LONS, [0, 15], cube, epoch_attr="description",
        mask_cell=(1, 2, 2),  # inside the bbox → must surface as NaN
    )
    root = _write_file(tmp_path, "d03_RAINNC.nc", content)
    out = read_wrf_grid(
        spark, root, bbox=KELANI, open_dataset=stub_open
    ).toPandas().sort_values(["t_idx", "y", "x"]).reset_index(drop=True)

    # hyperslab: 2 timesteps × 2 lat rows × 3 lon cols
    assert len(out) == 2 * 2 * 3
    assert sorted(out["latitude"].unique()) == [6.7, 7.1]
    assert sorted(out["longitude"].unique()) == [79.7, 80.2, 80.7]
    assert out["epoch_str"].unique().tolist() == ["2024-06-01 00:00:00"]
    assert sorted(out["xtime_min"].unique()) == [0, 15]
    assert out["wrf_system"].unique().tolist() == ["wrfA"]
    # value integrity: cube[t, 1+y, 1+x] for the selected window
    sel = cube[:, 1:3, 1:4]
    got = out["rainnc_cum"].to_numpy().reshape(2, 2, 3)
    expect = sel.copy()
    expect[1, 1, 1] = np.nan  # the masked cell (global y=2,x=2)
    np.testing.assert_array_equal(
        np.isnan(got), np.isnan(expect)
    )
    np.testing.assert_allclose(
        got[~np.isnan(expect)], expect[~np.isnan(expect)]
    )


def test_decode_v1_units_epoch_and_t_slice(spark, tmp_path):
    cube = np.arange(3 * 4 * 5, dtype="f8").reshape(3, 4, 5)
    content = _make_nc_bytes(
        LATS, LONS, [0, 15, 30], cube,
        epoch="2019-01-01 06:00:00", epoch_attr="units",
    )
    root = _write_file(tmp_path, "v1.nc", content)
    out = read_wrf_grid(
        spark, root, bbox=KELANI, t_slice=(1, 3), open_dataset=stub_open
    ).toPandas()
    assert out["epoch_str"].unique().tolist() == ["2019-01-01 06:00:00"]
    assert sorted(out["t_idx"].unique()) == [1, 2]
    assert sorted(out["xtime_min"].unique()) == [15, 30]


def test_decode_empty_bbox_yields_zero_rows(spark, tmp_path):
    cube = np.zeros((1, 4, 5))
    root = _write_file(
        tmp_path, "far.nc", _make_nc_bytes(LATS, LONS, [0], cube)
    )
    out = read_wrf_grid(
        spark, root,
        bbox={"lat_min": 40.0, "lat_max": 41.0,
              "lon_min": 10.0, "lon_max": 11.0},
        open_dataset=stub_open,
    )
    assert out.count() == 0


def test_decode_nonmonotonic_axis_fails_loudly(spark, tmp_path):
    cube = np.zeros((1, 4, 5))
    bad_lats = [6.0, 7.9, 6.7, 7.1]  # not monotonic
    root = _write_file(
        tmp_path, "bad.nc", _make_nc_bytes(bad_lats, LONS, [0], cube)
    )
    with pytest.raises(Exception, match="non-monotonic"):
        read_wrf_grid(
            spark, root, bbox=KELANI, open_dataset=stub_open
        ).count()


def test_write_then_read_roundtrip(spark, tmp_path):
    """K8 writer → S1 reader round trip through the stub codec: the
    3-D XLAT/XLONG layout the writer now emits must re-ingest through
    the reader's WRF-style indexing with identical values."""
    import pandas as pd

    n_t, n_y, n_x = 2, 3, 4
    lats = [6.7, 7.0, 7.3]
    lons = [79.7, 80.0, 80.3, 80.6]
    rows = []
    for t in range(n_t):
        for y in range(n_y):
            for x in range(n_x):
                rows.append(
                    {
                        "wrf_system": "wrfA",
                        "source_file": "d03_run1",
                        "epoch_str": "2024-06-01 00:00:00",
                        "t_idx": t,
                        "xtime_min": t * 15,
                        "y": y,
                        "x": x,
                        "latitude": lats[y],
                        "longitude": lons[x],
                        "rainnc_cum": float(t * 100 + y * 10 + x),
                    }
                )
    grid = spark.createDataFrame(pd.DataFrame(rows))
    out_dir = str(tmp_path / "export")
    manifest = write_netcdf_grid(
        grid, out_dir, create_dataset=stub_create
    ).toPandas()
    assert len(manifest) == 1
    assert (
        manifest.loc[0, ["n_t", "n_y", "n_x"]].tolist() == [n_t, n_y, n_x]
    )

    # the written payload is 3-D WRF layout
    with open(manifest.loc[0, "out_path"], "rb") as f:
        payload = pickle.load(f)
    assert payload["vars"]["XLAT"][0].shape == (n_t, n_y, n_x)
    assert payload["vars"]["XLONG"][0].shape == (n_t, n_y, n_x)
    assert payload["dims"] == {
        "Time": n_t, "south_north": n_y, "west_east": n_x
    }

    back = read_wrf_grid(
        spark, out_dir, open_dataset=stub_open
    ).toPandas().sort_values(["t_idx", "y", "x"]).reset_index(drop=True)
    assert len(back) == n_t * n_y * n_x
    src = pd.DataFrame(rows).sort_values(
        ["t_idx", "y", "x"]
    ).reset_index(drop=True)
    np.testing.assert_allclose(
        back["rainnc_cum"].to_numpy(), src["rainnc_cum"].to_numpy()
    )
    np.testing.assert_allclose(
        back["latitude"].to_numpy(), src["latitude"].to_numpy()
    )
    assert back["epoch_str"].unique().tolist() == ["2024-06-01 00:00:00"]
