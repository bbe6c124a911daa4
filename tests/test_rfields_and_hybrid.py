"""E2 rfield file-contract tests + E3 hybrid-frame tests vs pandas
oracles (SURVEY §5 golden outputs #2/#3)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from curw_wrf_data_pusher_spark.plans.hybrid import build_hybrid_rfield
from curw_wrf_data_pusher_spark.plans.rfields import build_rfields

from .wrf_fixture import EPOCH_STR, FGT_UTC, make_grid_pdf


@pytest.fixture(scope="module")
def grid(spark):
    pdf = make_grid_pdf()
    return (
        spark.createDataFrame(pdf)
        .withColumn("source_file", F.lit("fixture.nc"))
        .withColumn("fgt_utc", F.lit(FGT_UTC).cast("timestamp"))
        .withColumn("epoch_str", F.lit(EPOCH_STR))
    )


def test_e2_rfield_files(spark, grid, tmp_path):
    out = build_rfields(grid, str(tmp_path), file_prefix="WRF_v4")

    # 2 systems × 12 intervals value files
    assert len(out["d03"]) == 2 * 12
    # the fixture grid lies fully inside the Kelani extent
    assert len(out["kelani"]) == 2 * 12

    # job-level commit: the _SUCCESS marker is published after the
    # emission job and lists exactly the value files written (the gate
    # consumers use to never observe a partial run)
    with open(os.path.join(tmp_path, "d03", "_SUCCESS")) as fh:
        marked = sorted(line for line in fh.read().splitlines() if line)
    assert marked == sorted(os.path.basename(p) for p in out["d03"])

    # xy.csv: unique coords sorted by (lon, lat)
    xy = pd.read_csv(os.path.join(tmp_path, "d03", "xy.csv"))
    assert len(xy) == 6 * 5
    assert xy.equals(
        xy.sort_values(["longitude", "latitude"]).reset_index(drop=True)
    )

    # value files align with xy.csv row order: reconstruct one timestep
    # with pandas and compare line by line
    pdf = make_grid_pdf()
    g = pdf[pdf.wrf_system == "A"].copy()
    cube = g.pivot_table(index="t_idx", columns=["y", "x"],
                         values="rainnc_cum").sort_index()
    diff0 = cube.values[1] - cube.values[0]  # first interval (t_idx=1)
    epoch = datetime.strptime(EPOCH_STR, "%Y-%m-%d %H:%M:%S")
    t_lk = (epoch + timedelta(minutes=30) + timedelta(hours=5, minutes=30))
    fname = f"WRF_v4_A_{t_lk.strftime('%Y-%m-%d_%H_%M_00')}.txt"
    path = os.path.join(tmp_path, "d03", fname)
    assert os.path.exists(path), os.listdir(os.path.join(tmp_path, "d03"))
    vals = pd.read_csv(path, header=None)[0]
    coords = {
        (y, x): (lat, lon)
        for y, x, lat, lon in g[["y", "x", "latitude", "longitude"]]
        .drop_duplicates().itertuples(index=False)
    }
    expect = pd.DataFrame(
        {
            "longitude": [coords[c][1] for c in cube.columns],
            "latitude": [coords[c][0] for c in cube.columns],
            "value": [round(v, 3) for v in diff0],
        }
    ).sort_values(["longitude", "latitude"])
    assert len(vals) == len(expect)
    assert list(vals) == pytest.approx(list(expect["value"]), abs=1e-9)
    # row order identical to xy.csv
    assert list(zip(xy.longitude, xy.latitude)) == list(
        zip(expect.longitude, expect.latitude)
    )


def test_rfield_empty_run_publishes_empty_marker(spark, tmp_path):
    """An input with no rows publishes no value files, and its
    _SUCCESS marker lists none — not one blank name."""
    from curw_wrf_data_pusher_spark.sinks.rfield_files import (
        write_rfield_files,
    )

    empty = spark.createDataFrame(
        [], "time string, longitude double, latitude double, value double"
    )
    assert write_rfield_files(empty, str(tmp_path)) == []
    with open(os.path.join(tmp_path, "_SUCCESS")) as fh:
        assert fh.read().splitlines() == []


def _hybrid_fixture(spark):
    """Tiny F4-F6-shaped world: 2 obs stations, 2 sources, 4 instants."""
    times = [f"2024-06-01 0{h}:00:00" for h in range(4)]
    runs = spark.createDataFrame(
        [
            # station 101 has two fgt's for WRF_A — only the newest
            # (fgt=f2, tms=a2) must be read (A6)
            ("a1", "tag", 101, "WRF_A", "f1"),
            ("a2", "tag", 101, "WRF_A", "f2"),
            ("b1", "tag", 101, "WRF_C", "f1"),
            ("a3", "tag", 102, "WRF_A", "f2"),
            ("b2", "tag", 102, "WRF_C", "f2"),
        ],
        "tms_id string, sim_tag string, station_id long, source string, fgt string",
    )
    fact_rows = []
    for tms, base in [("a1", 99.0), ("a2", 1.0), ("b1", 2.0),
                      ("a3", 3.0), ("b2", 4.0)]:
        for i, t in enumerate(times):
            fact_rows.append((tms, t, base + i))
    # a2 misses the last instant → dropna must remove it for stn 201
    fact_rows = [r for r in fact_rows if not (r[0] == "a2" and r[1] == times[3])]
    fact = spark.createDataFrame(
        fact_rows, "tms_id string, time string, value double"
    )
    obs_station = spark.createDataFrame(
        [
            (201, "h201", 79.9, 6.9, "2024-06-01 00:00:00"),
            (202, "h202", 80.1, 7.1, "2024-06-01 00:00:00"),
        ],
        "station_id long, hash_id string, longitude double, "
        "latitude double, last_active string",
    )
    obs_data = spark.createDataFrame(
        [("h201", t, 10.0 + i) for i, t in enumerate(times)]
        + [("h202", t, 20.0 + i) for i, t in enumerate(times)],
        "hash_id string, time string, value double",
    )
    grid_map = spark.createDataFrame(
        [(201, 101, 1), (201, 102, 2), (202, 102, 1)],
        "obs_station_id long, d03_station_id long, rank int",
    )
    return fact, runs, obs_station, obs_data, grid_map, times


def test_e3_hybrid_nearest(spark):
    fact, runs, obs_station, obs_data, grid_map, times = _hybrid_fixture(spark)
    wide = build_hybrid_rfield(
        fact, runs, obs_station, obs_data, grid_map,
        sources=["WRF_A", "WRF_C"],
    ).toPandas().sort_values(["station_id", "time"]).reset_index(drop=True)

    # station 201 → nearest d03 101 → newest WRF_A run a2 (not a1!);
    # a2 misses t3 ⇒ dropna removes that instant
    s201 = wide[wide.station_id == 201]
    assert list(s201.time) == times[:3]
    assert list(s201.WRF_A) == [1.0, 2.0, 3.0]
    assert list(s201.WRF_C) == [2.0, 3.0, 4.0]
    assert list(s201.obs) == [10.0, 11.0, 12.0]
    # station 202 → d03 102, complete series
    s202 = wide[wide.station_id == 202]
    assert list(s202.time) == times
    assert list(s202.WRF_A) == [3.0, 4.0, 5.0, 6.0]
    assert list(s202.obs) == [20.0, 21.0, 22.0, 23.0]


def test_e3_hybrid_mean_over_mapped(spark):
    fact, runs, obs_station, obs_data, grid_map, times = _hybrid_fixture(spark)
    wide = build_hybrid_rfield(
        fact, runs, obs_station, obs_data, grid_map,
        sources=["WRF_A", "WRF_C"], mean_over_mapped=True,
    ).toPandas().sort_values(["station_id", "time"]).reset_index(drop=True)

    # station 201 maps to BOTH 101 (a2) and 102 (a3):
    # mean(WRF_A) = (a2+a3)/2 for t0..t2; at t3 a2 is missing → mean
    # falls back to a3 alone (NaN-skipping mean BEFORE dropna —
    # gen_active_stations_mean_rfields.py:209 vs :229)
    s201 = wide[wide.station_id == 201]
    assert list(s201.time) == times
    assert list(s201.WRF_A) == [2.0, 3.0, 4.0, 6.0]

    # WRF_C for 201: both mapped stations have C runs (b1 base 2, b2
    # base 4) → mean = [3, 4, 5, 6]
    assert list(s201.WRF_C) == [3.0, 4.0, 5.0, 6.0]


def test_e3_csv_outputs(spark, tmp_path):
    fact, runs, obs_station, obs_data, grid_map, _ = _hybrid_fixture(spark)
    build_hybrid_rfield(
        fact, runs, obs_station, obs_data, grid_map,
        sources=["WRF_A", "WRF_C"], out_dir=str(tmp_path),
    )
    full = pd.read_csv(tmp_path / "hybrid_full.csv")
    fcst = pd.read_csv(tmp_path / "hybrid_fcst.csv")
    kelani = pd.read_csv(tmp_path / "hybrid_kelani.csv")
    assert {"WRF_A", "WRF_C", "obs"} <= set(full.columns)
    assert "obs" not in fcst.columns
    # fixture stations lie inside the Kelani extent
    assert len(kelani) == len(full)
    # ordered by (time, longitude, latitude)
    assert full.equals(
        full.sort_values(["time", "longitude", "latitude"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("mean_over_mapped", [False, True])
def test_e3_obs_lead_window(spark, monkeypatch, mean_over_mapped):
    """Obs rows reach the pivot only from min(fcst time) − lead on, per
    station: a reading before that bound is dropped, one exactly at it
    is kept, and an active station with obs rows but no mapped forecast
    series contributes none.  The pivot's dropna hides all of them from
    the wide frame, so the rows are read off the long frame fed to it."""
    from curw_wrf_data_pusher_spark.plans import hybrid

    fact, runs, obs_station, obs_data, grid_map, times = _hybrid_fixture(spark)
    # fcst starts at 00:00 for both mapped stations; lead 30 min
    obs_data = obs_data.unionByName(spark.createDataFrame(
        [
            ("h201", "2024-05-31 23:29:00", 5.0),   # before the bound
            ("h201", "2024-05-31 23:30:00", 6.0),   # exactly at it
            ("h203", times[0], 30.0),   # active, not in the grid map
            ("h204", times[0], 40.0),   # mapped to d03 103: no runs
        ],
        "hash_id string, time string, value double",
    ))
    obs_station = obs_station.unionByName(spark.createDataFrame(
        [
            (203, "h203", 80.0, 7.0, "2024-06-01 00:00:00"),
            (204, "h204", 80.2, 7.2, "2024-06-01 00:00:00"),
        ],
        obs_station.schema,
    ))
    grid_map = grid_map.unionByName(spark.createDataFrame(
        [(204, 103, 1)], grid_map.schema
    ))

    fed = []
    real = hybrid.hybrid_wide_frame

    def spy(long_df, *args, **kwargs):
        fed.append(long_df)
        return real(long_df, *args, **kwargs)

    monkeypatch.setattr(hybrid, "hybrid_wide_frame", spy)
    wide = hybrid.build_hybrid_rfield(
        fact, runs, obs_station, obs_data, grid_map,
        sources=["WRF_A", "WRF_C"], mean_over_mapped=mean_over_mapped,
        obs_lead_minutes=30,
    )
    obs = sorted(
        (r.station_id, str(r.time))
        for r in fed[0].filter(F.col("source") == "obs").collect()
    )
    assert obs == sorted(
        [(201, "2024-05-31 23:30:00")]
        + [(s, t) for s in (201, 202) for t in times]
    )
    assert {r.station_id for r in wide.collect()} == {201, 202}
