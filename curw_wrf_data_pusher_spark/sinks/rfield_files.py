"""Ordered rain-field file emission (SURVEY §2.9 K4/K5/K6; §4 custom
work #3).

Reference contract (gen_rfields.py:186-208): one values file per
timestep plus a single ``xy.csv`` coordinate manifest, with EVERY file
sharing the exact row order (sorted by longitude, latitude) so line N
of any values file corresponds to line N of xy.csv.

Spark shape: ``repartition(time)`` + ``sortWithinPartitions`` +
executor-direct emission — each task owns complete timestep groups
and streams each group's file straight to the destination with an
atomic per-file rename (no output-commit protocol, no driver merge).
This scales to any number of timesteps; only the per-timestep grid
(16k rows for d03) must fit a task, which it does by orders of
magnitude.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_ordered_csv(
    df: DataFrame,
    dest: str,
    order_cols: list[str],
    header: bool = True,
) -> None:
    """K5/K6: single CSV with a total row order → one-partition ordered
    write, then rename the part file to ``dest``."""
    tmp = dest + ".spark-tmp"
    (
        df.coalesce(1)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .option("header", str(header).lower())
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
    shutil.move(part, dest)
    shutil.rmtree(tmp)


def write_rfield_files(
    df: DataFrame,
    out_dir: str,
    group_cols: list[str] | None = None,
    value_col: str = "value",
    lon_col: str = "longitude",
    lat_col: str = "latitude",
    file_prefix: str = "rfield",
) -> list[str]:
    """K4+K5: one value file per group (default: per timestep; pass
    ['wrf_system', 'time'] for the reference's per-system outputs) +
    xy.csv, byte-stable order.

    Returns the list of written value-file paths.  File naming follows
    the reference's ``{prefix}_{group}.txt`` with ':'/' ' made
    filesystem-safe (gen_rfields.py:204).

    Job-level commit: executor-direct emission publishes each file
    with a per-file atomic rename, so a job that dies mid-run leaves
    the files of its FINISHED tasks visible (partial output — unlike a
    commit-protocol write, which materializes nothing until job
    success).  The driver therefore writes a ``_SUCCESS`` marker
    (listing every published value file, one basename per line) only
    after the emission job returns; consumers that must never observe
    a partial run gate on it, same contract as Hadoop's marker.  A
    re-run after a failure overwrites the partial files (names are
    deterministic) and re-publishes the marker.

    ``df`` is evaluated once: the ``xy.csv`` manifest and the value
    emission are two actions, so the function persists ``df`` for the
    call and releases it before returning, on success and on failure
    alike.  A ``df`` the caller has already cached is read from that
    cache and left cached."""
    group_cols = group_cols or ["time"]
    os.makedirs(out_dir, exist_ok=True)
    # retract any PREVIOUS run's commit marker before emitting: a
    # re-run that dies mid-emission must not leave a stale _SUCCESS
    # validating a mix of old and new files
    try:
        os.remove(os.path.join(out_dir, "_SUCCESS"))
    except FileNotFoundError:
        pass

    # xy.csv once per run — the coordinate manifest (gen_rfields.py:196-202)
    xy = df.select(lon_col, lat_col).dropDuplicates([lon_col, lat_col])

    # EXECUTOR-DIRECT emission (round 10): the earlier form wrote the
    # values through `partitionBy("__t").csv(...)` + a driver-side
    # part-file merge — measured 10.6 s of a 12.1 s E2 emission at
    # 720 timesteps, almost all of it the file-commit protocol (one
    # tracked task file + rename per dynamic partition).  Instead,
    # repartition by the group key so each task owns complete groups,
    # sort within the task, and write each group's file straight to
    # ``out_dir`` from the executor (temp name + atomic rename per
    # file).  No commit protocol, no merge tail; at 1000 executors
    # every task streams its own timestep files concurrently — the
    # destination only needs to be a shared filesystem, which the
    # reference's NFS bucket already is (wrf_data_pusher.py:321-327).
    # The value text stays byte-identical: a Spark-side string cast
    # (the same Java Double.toString the CSV writer used).
    key = F.concat_ws("_", *[F.col(c).cast("string") for c in group_cols])
    data = (
        df.withColumn("__t", F.regexp_replace(key, "[: ]", "_"))
        .repartition("__t")
        .sortWithinPartitions("__t", lon_col, lat_col)
        .select("__t", F.col(value_col).cast("string").alias("__v"))
    )

    def emit(batches):
        import os as _os

        import pandas as _pd
        from pyspark import TaskContext

        # ATTEMPT-UNIQUE temp names: speculative execution or a
        # zombie executor can run two attempts of the same task
        # concurrently; a shared temp path would interleave their
        # writes.  Each attempt streams into its own
        # .<attempt>.inprogress file and publishes with an atomic
        # rename — last complete attempt wins, never a mixed file.
        # A failed attempt can leave a *.inprogress orphan behind;
        # those never shadow published files and sweep out via
        # maintenance.retention_delete(out_dir, ..., suffix=
        # ".inprogress").
        tc = TaskContext.get()
        attempt = tc.taskAttemptId() if tc is not None else _os.getpid()
        cur = None
        fh = None
        names: list[str] = []

        def close_current():
            nonlocal fh, cur
            if fh is not None:
                fh.close()
                final = _os.path.join(out_dir, f"{file_prefix}_{cur}.txt")
                _os.replace(f"{final}.{attempt}.inprogress", final)
                names.append(final)
                fh = None

        for pdf in batches:
            # groups arrive contiguously (partition sorted by __t) and
            # may span Arrow batches — keep the handle open across them
            for t, chunk in pdf.groupby("__t", sort=False):
                if t != cur:
                    close_current()
                    cur = t
                    fh = open(
                        _os.path.join(
                            out_dir,
                            f"{file_prefix}_{t}.txt"
                            f".{attempt}.inprogress",
                        ),
                        "w",
                    )
                vals = chunk["__v"]
                fh.write(
                    "\n".join("" if v is None else v for v in vals) + "\n"
                )
        close_current()
        yield _pd.DataFrame({"file": names})

    # a merge-on-read input would otherwise re-scan the store and re-run
    # its dedup window per action; a caller's cache is left alone, as
    # unpersisting it would drop it
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        write_ordered_csv(
            xy, os.path.join(out_dir, "xy.csv"), [lon_col, lat_col],
            header=True,
        )
        written = sorted(
            r["file"]
            for r in data.mapInPandas(emit, "file string").collect()
        )
    finally:
        if owned:
            df.unpersist()
    # job-level commit marker: published atomically AFTER every task's
    # per-file rename has succeeded (the collect() is the barrier) —
    # see the docstring's partial-output contract
    marker_tmp = os.path.join(out_dir, "_SUCCESS.inprogress")
    with open(marker_tmp, "w") as mh:
        # one basename per line: no files → an empty marker, not "\n"
        mh.write("".join(os.path.basename(p) + "\n" for p in written))
    os.replace(marker_tmp, os.path.join(out_dir, "_SUCCESS"))
    return written
