"""NetCDF grid ingestion (SURVEY §2.1 S1/S2, §4 custom work #1).

Reference behavior reproduced (wrf_data_pusher.py:143-279):
- open ``d03_RAINNC.nc``; read axes ``XLAT[0,:,0]``, ``XLONG[0,0,:]``,
  ``XTIME[:]`` and the cumulative grid ``RAINNC[:, lat_idx, lon_idx]``;
- the time epoch comes from ``XTIME.description`` ("minutes since
  <epoch>"; v1 files use ``.units`` — both are probed);
- ``fgt`` (forecast generation time) = file mtime shifted to +05:30
  (wrf_data_pusher.py:68-72,170);
- the bbox predicate is pushed INTO the scan: lat/lon index arrays are
  computed first and only the hyperslab is read
  (wrf_data_pusher.py:181-189).

Spark architecture: NetCDF files are not splittable and have no native
Spark source, so the one batch route, :func:`read_wrf_grid`, lists the
``*.nc`` files (a ``binaryFile`` listing, content pruned) and fans each
file into time slabs, one ``mapInArrow`` task per (file, slab), each
decoding its slab from the mmap'd local file.  Filter/projection
pushdown is option-driven (variable name, bbox, time slice are applied
inside the reader before the hyperslab read).  At 100 TB (≈ thousands
of daily .nc files) the task count is capped and file-level
parallelism saturates any executor count; per-task output stays under
a task's memory because the decode yields capped Arrow batches
(``_ARROW_BATCH_ROWS``).  The raw-``.nc`` stream
(``streaming/file_stream.stream_wrf_nc_push``) runs each micro-batch's
listing through the same :func:`decode_grid_slabs` stage; both decode
through :func:`decode_grid_arrow` → :func:`_grid_arrays`.

Codec resolution: ``netCDF4`` when installed (all formats); otherwise
pure-numpy codecs decode real ``.nc`` bytes in-container, dispatched
by magic: classic CDF-1/2/5 via ``sources/netcdf3.py`` and
netCDF-4/HDF5 via ``sources/hdf5.py`` (superblock v0/v2, v1+v2
object headers, symbol-table and compact-link groups, contiguous +
chunked/deflate/shuffle storage, dense fractal-heap links,
vlen-string attributes — both written from their public format
specifications).  Only exotic HDF5 structures (link B-trees deeper
than one level, v4 chunk indexes, vlen DATA columns) still require
the C library.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: long-format grid schema every ingestion route emits.
GRID_SCHEMA = (
    "wrf_system string, source_file string, fgt_utc timestamp, "
    "epoch_str string, t_idx int, xtime_min long, y int, x int, "
    "latitude double, longitude double, rainnc_cum double"
)

#: Sri Lanka / d03 domain extent (wrf_data_pusher.py:29).
SL_EXTENT = {"lat_min": 5.722969, "lat_max": 10.06425,
             "lon_min": 79.52146, "lon_max": 82.18992}
#: Kelani basin extent (gen_rfields.py:19).
KELANI_EXTENT = {"lat_min": 6.6, "lat_max": 7.4,
                 "lon_min": 79.6, "lon_max": 81.0}

#: decode_grid_arrow emits batches of at most this many rows — far
#: under the ~2 GiB Arrow binary-offset ceiling on the constant
#: string columns (~240 MB of path strings per batch), and a bound on
#: the Python->JVM transfer's peak memory.
_ARROW_BATCH_ROWS = 4_000_000


def _netcdf_available() -> bool:
    try:
        import netCDF4  # noqa: F401

        return True
    except ImportError:
        return False


def _default_open_dataset():
    """The ``bytes -> dataset`` opener every ingest route shares:
    ``netCDF4.Dataset`` when the C stack is installed, else the
    pure-numpy codecs dispatched by magic — classic CDF-1/2/5 via
    ``sources/netcdf3`` and netCDF-4/HDF5 via the ``sources/hdf5``
    subset reader (superblock v0/v2, v1+v2 object headers,
    contiguous + chunked/deflate/shuffle layouts)."""
    if _netcdf_available():

        def open_dataset(content: bytes):
            from netCDF4 import Dataset

            return Dataset("inmem", memory=content)

    else:

        def open_dataset(content: bytes):
            if content[:8] == b"\x89HDF\r\n\x1a\n":
                from .hdf5 import open_hdf5

                return open_hdf5(content)
            from .netcdf3 import open_classic

            return open_classic(content)

    return open_dataset


def _local_path(uri: str) -> str:
    """The local filesystem path of a listed ``file:`` (or bare) URI.
    Any other scheme raises: every slab task opens its file from local
    storage, and nothing reads bytes over a remote filesystem."""
    p = uri
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):  # file:///abs and file:/abs both appear
            p = p[1:]
    elif "://" in p:
        raise ValueError(f"read_wrf_grid reads local files only, not {uri!r}")
    return p


def _local_file_buffer(uri: str):
    """Memory-map a listed local file, so a slab decode only faults in
    the byte ranges its chunks/records actually occupy — the OS does
    the range read."""
    import mmap

    with open(_local_path(uri), "rb") as f:
        return mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)


def _slabs_per_file(spark: SparkSession) -> int:
    """Time slabs per file: a slab per core of one executor wave,
    capped at 32 (more just multiplies header parses).  Not derived
    from file size: a one-slab read of one file plans a single
    partition, which lets the E1 lag window skip its Exchange and run
    in one task; and compressed HDF5 holds the same cells in a quarter
    of the bytes, so bytes are a poor guide to decode work."""
    return min(32, spark.sparkContext.defaultParallelism)


def read_wrf_grid(
    spark: SparkSession,
    path: str,
    bbox: dict | None = None,
    variable: str = "RAINNC",
    system_from_path: bool = True,
    t_slice: tuple[int, int] | None = None,
    open_dataset=None,
) -> DataFrame:
    """Scan ``*.nc`` files under ``path`` into the long grid schema.

    ``bbox`` (lat/lon min/max) and ``t_slice`` (start/end time index,
    end-exclusive) are pushed into the reader: the hyperslab slice
    happens before any data leaves the codec, exactly like the
    reference's index-first read.

    ``open_dataset``: injectable ``buffer -> dataset`` callable
    (default: :func:`_default_open_dataset`).  The dataset only needs
    the surface the decode uses — ``.variables`` with WRF-style
    slicing, attribute access, ``.close()`` — so the whole decode logic
    (axis slicing, both epoch encodings, bbox index contiguity,
    empty-bbox guard, mask fill) is executable and tested against a
    stub dataset in this container.

    Paths must be local (``file:`` or bare); anything else raises
    ``ValueError`` here on the driver.
    """
    _local_path(path)
    # recursiveFileLookup: the reference's lake nests files under
    # {version}/{run}/{date}/{system}/ (wrf_data_pusher.py:321-327) —
    # without it a nested .nc is silently skipped (caught by
    # tests/test_netcdf_stub.py)
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.nc")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "modificationTime")
    )
    # the file index's listing, no Spark job; it also lists zero-byte
    # .nc files the scan skips, which only sizes the capped repartition
    n_files = len(listing.inputFiles())
    return decode_grid_slabs(
        listing, n_files, bbox=bbox, variable=variable,
        system_from_path=system_from_path, t_slice=t_slice,
        open_dataset=open_dataset,
    )


#: The former name of :func:`read_wrf_grid`, bound for callers that
#: still import it (the benchmark's ``perfbench/wrf.py``).
read_wrf_grid_split = read_wrf_grid


def decode_grid_slabs(
    files: DataFrame,
    n_files: int,
    bbox: dict | None = None,
    variable: str = "RAINNC",
    system_from_path: bool = True,
    t_slice: tuple[int, int] | None = None,
    open_dataset=None,
) -> DataFrame:
    """Decode a ``(path, modificationTime)`` listing of ``n_files``
    local ``.nc`` files into the long grid schema — the one decode
    stage of :func:`read_wrf_grid` and the raw-``.nc`` stream
    (``streaming/file_stream.stream_wrf_nc_push``).

    Each file fans into :func:`_slabs_per_file` tasks, task *k*
    decoding only the time slab ``[k*T/N, (k+1)*T/N)`` through the
    codecs' lazy hyperslab path (chunked HDF5 inflates only the slab's
    chunks; classic reads only the slab's records) from the mmap'd
    file.  One task per file would pin one core and one Python worker
    shipping every row of a big file; slabs move both the decode and
    the Arrow transfer onto N workers.  No bytes pass through Spark."""
    spark = files.sparkSession
    if n_files == 0:
        return spark.createDataFrame([], GRID_SCHEMA)
    n_splits = _slabs_per_file(spark)
    od = open_dataset or _default_open_dataset()
    bbox = bbox or SL_EXTENT
    # one task per (file, slab) — but capped: a 10k-file day must not
    # plan 320k tasks (scheduler pressure for no gain; many-file days
    # already saturate on file parallelism).  Under the cap each task
    # decodes several slabs sequentially, which is exactly the
    # one-task-per-file cost it replaces.
    num_parts = min(
        n_files * n_splits,
        max(n_splits, 16 * spark.sparkContext.defaultParallelism),
    )
    splits = files.withColumn(
        "split_id", F.explode(F.sequence(F.lit(0), F.lit(n_splits - 1)))
    ).repartition(num_parts)

    # mapInArrow, not mapInPandas: the decode emits millions of rows
    # per file, and pandas' block manager both consolidates (copies)
    # the columns at construction and converts to Arrow again at the
    # boundary — measured 3 s of pure overhead per 4.6M-cell d03
    # file.  Arrow RecordBatches build zero-copy from the numpy
    # columns the decode already has.
    def decode(batches):
        import pyarrow as pa

        for b in batches:
            paths = b.column("path")
            mtimes = b.column("modificationTime")
            sids = b.column("split_id")
            for i in range(b.num_rows):
                p = paths[i].as_py()
                k = sids[i].as_py()
                content = _local_file_buffer(p)
                try:
                    ds = od(content)
                    try:
                        n_t = int(ds.variables["XTIME"].shape[0])
                    finally:
                        ds.close()
                    lo, hi = t_slice or (0, n_t)
                    hi = min(hi, n_t)
                    span = max(0, hi - lo)
                    t0 = lo + (k * span) // n_splits
                    t1 = lo + ((k + 1) * span) // n_splits
                    if t1 <= t0:
                        continue
                    yield from decode_grid_arrow(
                        content,
                        path=p,
                        mtime=mtimes[i],
                        bbox=bbox,
                        variable=variable,
                        t_slice=(t0, t1),
                        system_from_path=system_from_path,
                        open_dataset=od,
                        pa=pa,
                    )
                finally:
                    # under the task-count cap one task decodes many
                    # slabs — release each mapping promptly instead
                    # of letting mmaps pile up until GC (every output
                    # column is a copy by construction; pinned by
                    # test_local_file_buffer_mmap_decodes equality)
                    content.close()

    return splits.mapInArrow(decode, schema=GRID_SCHEMA)


def decode_grid_arrow(
    content: bytes,
    path: str,
    mtime,
    bbox: dict,
    variable: str,
    t_slice,
    system_from_path: bool,
    open_dataset,
    pa,
):
    """Decode ONE file's bytes (the per-file step of every ingest
    route): GENERATOR of ``RecordBatch``es built zero-copy from the
    :func:`_grid_arrays` numpy columns
    (yields nothing when the bbox misses the file's grid).  ``mtime``
    is the input batch's timestamp SCALAR — its Arrow type (us,
    session tz) is reused verbatim for ``fgt_utc``.

    Batches are capped at ``_ARROW_BATCH_ROWS`` rows: a single batch
    over a big-enough file overflows Arrow's 2 GiB binary-offset
    limit on the constant string columns (a 46 M-row decode of one
    10x wrfout made ``pa.array`` silently return a ChunkedArray and
    ``RecordBatch.from_arrays`` throw — caught by the round-14 big-
    file probe), and bounded batches also bound the transfer's peak
    memory.  The numeric columns are zero-copy numpy slices."""
    import numpy as np

    g = _grid_arrays(
        content, path, bbox, variable, t_slice, system_from_path,
        open_dataset,
    )
    if g is None:
        return
    n = g["n"]
    names = [
        "wrf_system", "source_file", "fgt_utc", "epoch_str",
        "t_idx", "xtime_min", "y", "x", "latitude", "longitude",
        "rainnc_cum",
    ]
    lat64 = g["latitude"].astype("float64")
    lon64 = g["longitude"].astype("float64")
    for lo in range(0, n, _ARROW_BATCH_ROWS):
        m = min(_ARROW_BATCH_ROWS, n - lo)
        hi = lo + m
        fgt = pa.array(np.full(m, mtime.value, dtype="int64")).cast(
            mtime.type
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(m, g["system"], dtype=object)),
                pa.array(np.full(m, path, dtype=object)),
                fgt,
                pa.array(np.full(m, g["epoch_str"], dtype=object)),
                pa.array(g["t_idx"][lo:hi]),
                pa.array(g["xtime_min"][lo:hi]),
                pa.array(g["y"][lo:hi]),
                pa.array(g["x"][lo:hi]),
                pa.array(lat64[lo:hi]),
                pa.array(lon64[lo:hi]),
                pa.array(g["rainnc_cum"][lo:hi]),
            ],
            names=names,
        )


def _grid_arrays(
    content: bytes,
    path: str,
    bbox: dict,
    variable: str,
    t_slice,
    system_from_path: bool,
    open_dataset,
) -> dict | None:
    import numpy as np

    ds = open_dataset(content)
    try:
        lats = ds.variables["XLAT"][0, :, 0]
        lons = ds.variables["XLONG"][0, 0, :]
        xtime = ds.variables["XTIME"]
        # epoch text: .description on current files, .units on
        # v1-era files
        desc = getattr(xtime, "description", None) or getattr(
            xtime, "units", ""
        )
        epoch_str = desc.split("since ")[-1].strip()
        lat_idx = np.where(
            (lats >= bbox["lat_min"]) & (lats <= bbox["lat_max"])
        )[0]
        lon_idx = np.where(
            (lons >= bbox["lon_min"]) & (lons <= bbox["lon_max"])
        )[0]
        # bbox outside this file's grid → zero rows, not an executor
        # IndexError on lat_idx[0]/[-1]
        if lat_idx.size == 0 or lon_idx.size == 0:
            return None
        # first:last slicing below assumes the matched index set is
        # contiguous, i.e. monotonic axes (true for WRF grids; guard
        # so a malformed file fails loudly)
        if not (
            np.all(np.diff(lats) >= 0) or np.all(np.diff(lats) <= 0)
        ) or not (
            np.all(np.diff(lons) >= 0) or np.all(np.diff(lons) <= 0)
        ):
            raise ValueError(f"non-monotonic XLAT/XLONG axes in {path}")
        t0, t1 = t_slice or (0, xtime.shape[0])
        var = ds.variables[variable][
            t0:t1, lat_idx[0]: lat_idx[-1] + 1,
            lon_idx[0]: lon_idx[-1] + 1,
        ]
        times = np.asarray(xtime[t0:t1]).astype("int64")
        system = (
            path.rstrip("/").split("/")[-2] if system_from_path else ""
        )
        n_t, n_y, n_x = var.shape
        # index columns via repeat/tile instead of meshgrid: meshgrid
        # materializes three full int64 cubes (1.5 s at the 4.6M-cell
        # d03 size); repeat/tile emits each column directly, and the
        # axis columns tile the SELECTED axis values rather than
        # fancy-indexing through a full index column
        n = n_t * n_y * n_x
        per_t = n_y * n_x
        lats_sel = lats[lat_idx]
        lons_sel = lons[lon_idx]
        return {
            "system": system,
            "epoch_str": epoch_str,
            "n": n,
            "t_idx": np.repeat(
                np.arange(t0, t0 + n_t, dtype="int32"), per_t
            ),
            "xtime_min": np.repeat(times, per_t),
            "y": np.tile(
                np.repeat(np.arange(n_y, dtype="int32"), n_x), n_t
            ),
            "x": np.tile(np.arange(n_x, dtype="int32"), n_t * n_y),
            "latitude": np.tile(np.repeat(lats_sel, n_x), n_t),
            "longitude": np.tile(lons_sel, n_t * n_y),
            "rainnc_cum": np.ma.filled(var, np.nan)
            .ravel()
            .astype("float64"),
        }
    finally:
        ds.close()


def assemble_grid_cube(pdf: pd.DataFrame, value_col: str = "rainnc_cum"):
    """Reassemble one file's long rows into the (time, lat, lon) cube +
    axis vectors — the inverse of the reader's meshgrid flatten.

    Pure pandas/numpy (no netCDF dependency) so the reassembly logic is
    testable in this container; ``write_netcdf_grid`` feeds its output
    to the codec.  Returns (times, lats, lons, cube) with cube shape
    (n_t, n_y, n_x); cells absent from the input (e.g. a bbox-filtered
    grid) are NaN."""
    import numpy as np

    t_vals = np.sort(pdf["t_idx"].unique())
    y_vals = np.sort(pdf["y"].unique())
    x_vals = np.sort(pdf["x"].unique())
    t_pos = {v: i for i, v in enumerate(t_vals)}
    y_pos = {v: i for i, v in enumerate(y_vals)}
    x_pos = {v: i for i, v in enumerate(x_vals)}
    cube = np.full((len(t_vals), len(y_vals), len(x_vals)), np.nan)
    cube[
        pdf["t_idx"].map(t_pos).to_numpy(),
        pdf["y"].map(y_pos).to_numpy(),
        pdf["x"].map(x_pos).to_numpy(),
    ] = pdf[value_col].to_numpy()
    # axis coordinate vectors: latitude varies along y, longitude along x
    lats = (
        pdf.drop_duplicates("y").set_index("y")["latitude"]
        .reindex(y_vals).to_numpy()
    )
    lons = (
        pdf.drop_duplicates("x").set_index("x")["longitude"]
        .reindex(x_vals).to_numpy()
    )
    times = (
        pdf.drop_duplicates("t_idx").set_index("t_idx")["xtime_min"]
        .reindex(t_vals).to_numpy()
    )
    return times, lats, lons, cube


#: Manifest row per written file.
EXPORT_SCHEMA = (
    "wrf_system string, source_file string, out_path string, "
    "n_t int, n_y int, n_x int"
)


def write_netcdf_grid(
    grid: DataFrame,
    out_dir: str,
    variable: str = "RAINNC",
    value_col: str = "rainnc_cum",
    create_dataset=None,
) -> DataFrame:
    """S2/K8 — re-export a (projected, possibly bbox-sliced) grid as
    one NetCDF file per source file, reproducing the reference's
    single-variable export (mwrf/extract_n_export_mwrf.py:42-45:
    ``ds.RAINNC.to_netcdf(...)``) as a distributed write: one task per
    (wrf_system, source_file) group — the same file-level parallelism
    as the reader, so thousands of daily files export concurrently.

    XLAT/XLONG are written WRF-style 3-D ``(Time, south_north,
    west_east)`` so files exported here re-ingest through
    ``read_wrf_grid`` (which indexes ``XLAT[0,:,0]`` / ``XLONG[0,0,:]``)
    — the round trip is closed and stub-tested.

    ``create_dataset``: injectable ``path -> dataset`` callable
    (default: ``netCDF4.Dataset(path, "w")``) so the encode logic runs
    against a recording stub in this container; only the C-library call
    stays environment-gated.  Returns the manifest DataFrame (one row
    per written file)."""
    if create_dataset is None:
        if _netcdf_available():

            def create_dataset(out_path: str):
                from netCDF4 import Dataset

                return Dataset(out_path, "w")

        else:
            # pure-numpy CDF-2 writer — real classic .nc bytes without
            # the C library (sources/netcdf3.py)
            from .netcdf3 import create_classic as create_dataset

    import os

    def export(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        system, source = key
        times, lats, lons, cube = assemble_grid_cube(pdf, value_col)
        n_t, n_y, n_x = len(times), len(lats), len(lons)
        base = os.path.basename(str(source).rstrip("/")) or "grid"
        out_path = os.path.join(out_dir, f"{system}_{base}_{variable}.nc")
        os.makedirs(out_dir, exist_ok=True)
        ds = create_dataset(out_path)
        try:
            ds.createDimension("Time", n_t)
            ds.createDimension("south_north", n_y)
            ds.createDimension("west_east", n_x)
            xtime = ds.createVariable("XTIME", "i8", ("Time",))
            xtime[:] = times
            xtime.description = (
                f"minutes since {pdf['epoch_str'].iloc[0]}"
            )
            # WRF-style 3-D coordinate variables (constant over the
            # dimensions they do not vary along) — the reader's
            # XLAT[0,:,0] / XLONG[0,0,:] indexing round-trips
            dims3 = ("Time", "south_north", "west_east")
            xlat = ds.createVariable("XLAT", "f8", dims3)
            xlat[:] = np.broadcast_to(
                np.asarray(lats)[None, :, None], (n_t, n_y, n_x)
            )
            xlong = ds.createVariable("XLONG", "f8", dims3)
            xlong[:] = np.broadcast_to(
                np.asarray(lons)[None, None, :], (n_t, n_y, n_x)
            )
            var = ds.createVariable(
                variable, "f8", dims3, fill_value=float("nan"),
            )
            var[:] = cube
        finally:
            ds.close()
        return pd.DataFrame(
            [
                {
                    "wrf_system": system,
                    "source_file": source,
                    "out_path": out_path,
                    "n_t": n_t,
                    "n_y": n_y,
                    "n_x": n_x,
                }
            ]
        )

    return grid.groupBy("wrf_system", "source_file").applyInPandas(
        export, schema=EXPORT_SCHEMA
    )
