"""E3 — hybrid obs+forecast comparison products (SURVEY §3-E3;
gen_active_stations_rfields.py:294-377 and the mean variants
re-expressed loop-free).

Inputs are the lake-table stand-ins for the reference's three MySQL
databases (FIXTURES §F4-F6):
- fact        (tms_id, time, fgt, value)      — forecast store
- runs        (tms_id, sim_tag, station_id, source, ...) — run dim
- obs_station (station_id, hash_id, latitude, longitude, last_active)
- obs_data    (hash_id, time, value)
- grid_map    (obs_station_id, d03_station_id, rank)

Pipeline: active-station filter (S5 as a plain predicate) → latest-fgt
dedup (A6) → mapping join nearest/all (J4) → long (station, source,
time, value) union obs → pivot+dropna (J1/J2/R2/U2) via
``hybrid_wide_frame`` → ordered CSVs ×3 (K6).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.dedup import latest_per_series
from ..operators.rfield import hybrid_wide_frame
from ..sinks.rfield_files import write_ordered_csv
from ..sources.netcdf import KELANI_EXTENT


def build_hybrid_rfield(
    fact: DataFrame,
    runs: DataFrame,
    obs_station: DataFrame,
    obs_data: DataFrame,
    grid_map: DataFrame,
    sources: Sequence[str],
    out_dir: str | None = None,
    active_after: str | None = None,
    mean_over_mapped: bool = False,
    obs_lead_minutes: int = 10,
) -> DataFrame:
    """Build the wide time×(sources..., obs) comparison frame; write the
    three CSV flavors when ``out_dir`` is given.

    mean_over_mapped=False → nearest grid point per obs station
    (rank=1, gen_active_stations_rfields.py:164); True → mean over all
    mapped points per obs station BEFORE the pivot
    (gen_active_stations_mean_rfields.py:196-216).
    """
    # S5: "active" stations = seen within the window — a plain filter,
    # standing in for the getActiveRainfallObsStations proc.
    active = obs_station
    if active_after is not None:
        active = active.filter(F.col("last_active") >= F.lit(active_after))

    # A6: newest forecast run per series.
    latest_runs = latest_per_series(
        runs, series_cols=["station_id", "source", "sim_tag"],
        version_cols=["fgt", "tms_id"],
    )

    mapping = grid_map if mean_over_mapped else grid_map.filter(
        F.col("rank") == 1
    )

    # forecast side: obs station ← mapping → d03 station runs → fact
    fcst_long = (
        active.select(
            F.col("station_id").alias("obs_station_id"),
            "latitude", "longitude", "hash_id",
        )
        .join(F.broadcast(mapping), on="obs_station_id")
        .join(
            latest_runs.select(
                F.col("station_id").alias("d03_station_id"),
                "source", "tms_id",
            ),
            on="d03_station_id",
        )
        .join(fact.select("tms_id", "time", "value"), on="tms_id")
        .select(
            F.col("obs_station_id").alias("station_id"),
            "longitude", "latitude", "source", "time", "value",
            F.lit(True).alias("__fcst"),
        )
    )
    obs_long = (
        active.select(
            F.col("station_id"), "longitude", "latitude", "hash_id"
        )
        .join(obs_data, on="hash_id")
        .select(
            "station_id", "longitude", "latitude",
            F.lit("obs").alias("source"), "time", "value",
            F.lit(False).alias("__fcst"),
        )
    )

    # The mapped d03 station id is deliberately NOT a pivot key: in the
    # nearest variant there is exactly one per obs station (rank=1), in
    # the mean variant the NaN-skipping avg pools all mapped points per
    # (obs station, time, source) — obs rows (no d03 id) share the same
    # keys so the pivot lines every source up per instant.
    #
    # Obs series start = min(fcst time) − lead, per station
    # (gen_active_stations_rfields.py:203-207), as a window over the
    # union, so the forecast side (A6 window, grid-map join, fact scan)
    # is built once; an aggregate of fcst_long joined back to the obs
    # side would build it a second time.  A station with obs rows but
    # no forecast rows gets a null start, so its obs rows drop out.
    obs_start = F.min(F.when(F.col("__fcst"), F.col("time"))).over(
        Window.partitionBy("station_id")
    ) - F.expr(f"INTERVAL {obs_lead_minutes} MINUTES")
    long_df = (
        fcst_long.unionByName(obs_long)
        .withColumn("__start", obs_start)
        .filter(F.col("__fcst") | (F.col("time") >= F.col("__start")))
        .drop("__fcst", "__start")
    )
    wide = hybrid_wide_frame(
        long_df,
        sources=[*sources, "obs"],
        station_cols=("station_id", "longitude", "latitude"),
        mean=mean_over_mapped,
    )

    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
        order = ["time", "longitude", "latitude"]
        # the wide frame is station×time-scale (small) but its lineage
        # is the fact-scale dedup window + join — pin it so the three
        # CSV flavors share ONE execution instead of re-running the
        # store scan per file (measured 3× the E3 wall on a full day)
        wide = wide.persist()
        try:
            write_ordered_csv(
                wide, os.path.join(out_dir, "hybrid_full.csv"), order
            )
            write_ordered_csv(
                wide.drop("obs"),
                os.path.join(out_dir, "hybrid_fcst.csv"), order,
            )
            kelani = wide.filter(
                F.col("longitude").between(
                    KELANI_EXTENT["lon_min"], KELANI_EXTENT["lon_max"]
                )
                & F.col("latitude").between(
                    KELANI_EXTENT["lat_min"], KELANI_EXTENT["lat_max"]
                )
            )
            write_ordered_csv(
                kelani, os.path.join(out_dir, "hybrid_kelani.csv"), order
            )
        finally:
            wide.unpersist()
    return wide
