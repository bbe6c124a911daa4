"""The one NetCDF batch reader (read_wrf_grid) and the codec-level
lazy hyperslab it rides on.

The reference decodes each file in one process
(wrf_data_pusher.py:143-279).  ``read_wrf_grid`` fans each file into N
time-slab tasks, task k decoding slab [k*T/N, (k+1)*T/N) from the
mmap'd file through the SAME _grid_arrays core, with the codecs
decoding O(slab) — chunked HDF5 inflates only intersecting chunks,
classic reads only the slab's records.  The reader is pinned against
a driver-side reference: ``decode_grid_arrow`` over each file's whole
bytes, no Spark.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from curw_wrf_data_pusher_spark.sources.hdf5 import create_nc4, open_hdf5
from curw_wrf_data_pusher_spark.sources.netcdf3 import (
    NetCDF3Writer,
    open_classic,
)

T_N, H_N, W_N = 7, 5, 6


def _write_grid(path: str, writer_factory, t_n: int = T_N) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rng = np.random.default_rng(hash(os.path.basename(path)) % 2**32)
    w = writer_factory(path)
    w.createDimension("Time", None)
    w.createDimension("south_north", H_N)
    w.createDimension("west_east", W_N)
    xt = w.createVariable("XTIME", "i8", ("Time",))
    xt[:] = 15 * (np.arange(t_n, dtype="i8") + 1)
    xt.description = "minutes since 2024-06-01 00:00:00"
    lats = np.linspace(6.0, 9.5, H_N).astype("f4")
    lons = np.linspace(79.6, 82.0, W_N).astype("f4")
    for name, arr in (
        ("XLAT", np.broadcast_to(
            lats[None, :, None], (t_n, H_N, W_N)).copy()),
        ("XLONG", np.broadcast_to(
            lons[None, None, :], (t_n, H_N, W_N)).copy()),
        ("RAINNC", np.cumsum(
            rng.uniform(0, 3, size=(t_n, H_N, W_N)).astype("f4"),
            axis=0)),
    ):
        v = w.createVariable(
            name, "f4", ("Time", "south_north", "west_east")
        )
        v[:] = arr
    w.close()


@pytest.fixture(scope="module", params=["classic", "hdf5"])
def grid_dir(request, tmp_path_factory):
    """Two files per format, nested system dirs (S6 path parsing)."""
    factory = NetCDF3Writer if request.param == "classic" else create_nc4
    base = tmp_path_factory.mktemp(f"ncsplit_{request.param}")
    _write_grid(str(base / "wrfA" / "d03_RAINNC.nc"), factory)
    _write_grid(str(base / "wrfC" / "d03_RAINNC.nc"), factory, t_n=5)
    return str(base)


_KEY_COLS = ("wrf_system", "source_file", "t_idx", "y", "x", "xtime_min",
             "epoch_str")


def _key(r: dict, fgt_ms: int) -> tuple:
    return tuple(r[c] for c in _KEY_COLS) + (
        round(r["latitude"], 6), round(r["longitude"], 6),
        round(r["rainnc_cum"], 5), fgt_ms,
    )


def _collect_sorted(df):
    return sorted(
        _key(r.asDict(), round(r.fgt_utc.timestamp() * 1000))
        for r in df.collect()
    )


def _reference(root, bbox=None, t_slice=None):
    """Driver-side reference, no Spark: ``decode_grid_arrow`` over each
    file's whole bytes, with the listing's ``file:`` URI and the
    file's millisecond mtime (what the reader's listing carries)."""
    import pyarrow as pa

    from curw_wrf_data_pusher_spark.sources.netcdf import (
        SL_EXTENT,
        _default_open_dataset,
        decode_grid_arrow,
    )

    rows = []
    for f in glob.glob(os.path.join(root, "**", "*.nc"), recursive=True):
        ms = os.stat(f).st_mtime_ns // 1_000_000
        with open(f, "rb") as fh:
            content = fh.read()
        batches = decode_grid_arrow(
            content, path="file:" + f,
            mtime=pa.scalar(ms * 1000, type=pa.timestamp("us")),
            bbox=bbox or SL_EXTENT, variable="RAINNC", t_slice=t_slice,
            system_from_path=True, open_dataset=_default_open_dataset(),
            pa=pa,
        )
        rows += [_key(r, ms) for b in batches for r in b.to_pylist()]
    return sorted(rows)


@pytest.fixture
def slabs(monkeypatch):
    """Pin the reader's slab count per file."""
    import curw_wrf_data_pusher_spark.sources.netcdf as ncmod

    def pin(n):
        monkeypatch.setattr(ncmod, "_slabs_per_file", lambda spark: n)

    return pin


def test_split_equals_unsplit(spark, grid_dir, slabs):
    """1, 2 and 3 slabs per file: the union equals the whole-file
    driver-side decode."""
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    want = _reference(grid_dir)
    assert want
    for n in (1, 2, 3):
        slabs(n)
        got = _collect_sorted(read_wrf_grid(spark, grid_dir))
        assert got == want, f"{n} slabs per file diverged"


def test_split_more_tasks_than_timesteps(spark, grid_dir, slabs):
    """slabs > T: surplus slabs are empty, union still exact."""
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    slabs(T_N + 5)
    got = _collect_sorted(read_wrf_grid(spark, grid_dir))
    assert got == _reference(grid_dir)


def test_split_honours_t_slice_and_bbox(spark, grid_dir, slabs):
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    bbox = {"lat_min": 6.5, "lat_max": 9.0,
            "lon_min": 79.9, "lon_max": 81.5}
    slabs(3)
    got = _collect_sorted(
        read_wrf_grid(spark, grid_dir, bbox=bbox, t_slice=(1, 4))
    )
    assert got == _reference(grid_dir, bbox=bbox, t_slice=(1, 4))
    assert got, "t-sliced bbox read must not be empty"
    assert {r[2] for r in got} == {1, 2, 3}  # t_idx stays absolute


def test_split_task_cap_engages_and_stays_exact(spark, grid_dir, slabs):
    """Above the 16x-defaultParallelism partition cap, several
    (file, slab) pairs share a task — the union must stay exact and
    the plan must not exceed the cap."""
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    cap = 16 * spark.sparkContext.defaultParallelism
    slabs(cap)  # 2 files x cap slabs = 2x the cap -> cap engages
    split = read_wrf_grid(spark, grid_dir)
    assert split.rdd.getNumPartitions() == cap
    assert _collect_sorted(split) == _reference(grid_dir)


def test_reader_call_launches_no_job(spark, grid_dir):
    """Calling the reader plans only: the file count comes from the
    file index, not a Spark job."""
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"reader_call {grid_dir}"  # own group per fixture param
    sc.setJobGroup(group, "read_wrf_grid call")
    try:
        df = read_wrf_grid(spark, grid_dir)
        assert tracker.getJobIdsForGroup(group) == []
        assert df.count() > 0
        # the group does see jobs: the empty list above is not vacuous
        assert tracker.getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_split_empty_dir_returns_empty_grid_schema(spark, tmp_path):
    from curw_wrf_data_pusher_spark.sources.netcdf import (
        GRID_SCHEMA,
        read_wrf_grid,
    )

    df = read_wrf_grid(spark, str(tmp_path))
    assert df.count() == 0
    assert df.schema == spark.createDataFrame([], GRID_SCHEMA).schema


def test_split_rejects_remote_path(spark):
    """Non-local paths fail on the driver, before any listing."""
    from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

    with pytest.raises(ValueError, match="local files only"):
        read_wrf_grid(spark, "hdfs://nameservice/wrf")


def test_local_file_buffer_mmap_decodes(tmp_path):
    """The mmap route feeds both codecs bit-identically to read()."""
    from curw_wrf_data_pusher_spark.sources.netcdf import (
        _local_file_buffer,
    )

    for factory, opener in (
        (NetCDF3Writer, open_classic), (create_nc4, open_hdf5)
    ):
        p = str(tmp_path / f"m_{opener.__name__}.nc")
        _write_grid(p, factory)
        via_mmap = opener(_local_file_buffer("file:" + p))
        via_bytes = opener(open(p, "rb").read())
        np.testing.assert_array_equal(
            np.asarray(via_mmap.variables["RAINNC"][1:3]),
            np.asarray(via_bytes.variables["RAINNC"][1:3]),
        )


# --- codec-level lazy hyperslab ------------------------------------


@pytest.mark.parametrize("factory,opener,big", [
    (NetCDF3Writer, open_classic, False),
    (create_nc4, open_hdf5, False),   # small grid → CONTIGUOUS layout
    (create_nc4, open_hdf5, True),    # big grid → CHUNKED (1,h,w) layout
])
def test_lazy_slab_matches_full_load(tmp_path, factory, opener, big):
    p = str(tmp_path / "lazy.nc")
    if big:
        # above NC4Writer's 1 KiB chunking threshold: the lazy read
        # goes through _load_chunked's slab placement, whose VALUES
        # this pins (the call-count test alone doesn't)
        global H_N, W_N
        h0, w0 = H_N, W_N
        H_N, W_N = 24, 30
        try:
            _write_grid(p, factory)
        finally:
            H_N, W_N = h0, w0
    else:
        _write_grid(p, factory)
    content = open(p, "rb").read()
    full = np.asarray(opener(content).variables["RAINNC"][:])
    for key in (
        slice(2, 5), slice(None), slice(0, 0), slice(-3, None),
        (slice(1, 6), slice(1, 4), slice(0, 3)), (3, slice(None), 2),
        (0, slice(None), slice(None)), (-1,),
    ):
        fresh = opener(content).variables["RAINNC"]  # no cached full
        np.testing.assert_array_equal(
            np.asarray(fresh[key]), full[key],
            err_msg=f"{opener.__name__} lazy read diverged on {key!r}",
        )
    # non-hyperslab keys fall back to the full decode, same values
    fancy = opener(content).variables["RAINNC"][[0, 2], :, :]
    np.testing.assert_array_equal(np.asarray(fancy), full[[0, 2], :, :])


def test_hdf5_slab_skips_other_chunks(tmp_path, monkeypatch):
    """The scale claim itself: a 2-timestep slab of a (1, h, w)-chunked
    dataset inflates exactly 2 RAINNC chunks, not T_N (and the axis
    reads XLAT[0,:,0] / XLONG[0,0,:] inflate 1 each, not T_N)."""
    import zlib as zlib_mod

    import curw_wrf_data_pusher_spark.sources.hdf5 as h5mod

    # (1, h, w) chunking only kicks in above NC4Writer's 1 KiB
    # threshold — use a grid whose per-timestep slab clears it
    global H_N, W_N
    h0, w0 = H_N, W_N
    H_N, W_N = 24, 30
    p = str(tmp_path / "chunky.nc")
    try:
        _write_grid(p, create_nc4)
    finally:
        H_N, W_N = h0, w0
    content = open(p, "rb").read()

    calls = []
    real = zlib_mod.decompress
    monkeypatch.setattr(
        h5mod.zlib, "decompress",
        lambda raw, *a: calls.append(len(raw)) or real(raw, *a),
    )
    ds = open_hdf5(content)
    ds.variables["RAINNC"][2:4]
    assert len(calls) == 2
    calls.clear()
    ds.variables["XLAT"][0, :, 0]
    ds.variables["XLONG"][0, 0, :]
    assert len(calls) == 2


def test_classic_slab_reads_only_slab_records(tmp_path):
    """Record-var slab load touches only [t0,t1) record offsets: a
    truncated buffer that still contains the slab decodes fine."""
    p = str(tmp_path / "trunc.nc")
    _write_grid(p, NetCDF3Writer)
    content = open(p, "rb").read()
    whole = open_classic(content)
    full = np.asarray(whole.variables["RAINNC"][:])
    # chop the last two records' worth of bytes off the record block
    v = whole.variables["RAINNC"]
    cut = v._begin + (T_N - 2) * v._rec_stride
    clipped = open_classic(content[:cut])
    np.testing.assert_array_equal(
        np.asarray(clipped.variables["RAINNC"][1:4]), full[1:4]
    )


def test_decode_grid_arrow_caps_batch_rows(tmp_path, monkeypatch):
    """decode_grid_arrow must emit CAPPED batches: one giant batch
    overflowed Arrow's 2 GiB binary-offset limit on the constant
    string columns at ~46 M rows (round-14 big-file probe).  Pinned
    with a tiny cap: the batch row counts obey it and the union is
    exactly the uncapped decode."""
    import pyarrow as pa

    import curw_wrf_data_pusher_spark.sources.netcdf as ncmod

    p = str(tmp_path / "cap.nc")
    _write_grid(p, NetCDF3Writer)
    content = open(p, "rb").read()
    mtime = pa.scalar(1718000000000000, type=pa.timestamp("us"))
    kw = dict(
        path=p, mtime=mtime, bbox={"lat_min": -90, "lat_max": 90,
                                   "lon_min": -180, "lon_max": 180},
        variable="RAINNC", t_slice=None, system_from_path=True,
        open_dataset=open_classic, pa=pa,
    )
    whole = list(ncmod.decode_grid_arrow(content, **kw))
    assert len(whole) == 1  # default cap far above the fixture size

    monkeypatch.setattr(ncmod, "_ARROW_BATCH_ROWS", 64)
    capped = list(ncmod.decode_grid_arrow(content, **kw))
    assert len(capped) == (T_N * H_N * W_N + 63) // 64
    assert all(b.num_rows <= 64 for b in capped)
    got = pa.Table.from_batches(capped)
    want = pa.Table.from_batches(whole)
    assert got.equals(want)
