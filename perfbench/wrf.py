"""The two WRF workloads: ``wrf-push`` (E1, the write path) and
``wrf-serve`` (A6 + E3 + E2, the read path), on seeded classic-netCDF
``d03_RAINNC.nc`` arrivals synthesised the way
``scripts/operational_day.py:build_day_files`` builds them.
"""

from __future__ import annotations

import datetime as dt
import filecmp
import os
import shutil
import time

import numpy as np

from harness import du_bytes, dur, stage_summary

#: a bbox that keeps the whole synthetic d03 grid
WORLD = {"lat_min": -90, "lat_max": 90, "lon_min": -180, "lon_max": 180}
FACT_BUCKETS = 16
N_OBS = 24


def wrf_config(systems):
    from curw_wrf_data_pusher_spark.plans.config import WrfConfig

    return WrfConfig(
        model="WRF", version="4.1.2", wrf_type="wrf", gfs_run="d0",
        gfs_data_hour="18", wrf_systems=list(systems), unit="mm",
        unit_type="Accumulative", variable="Precipitation",
        sim_tag="gfs_d0_18",
    )


def build_cycle_files(watch: str, cycle: int, systems, dims, seed: int,
                      mtime_base: int = 1717290000) -> None:
    """One cron cycle's arrivals, ``{watch}/run{cycle}/{system}/
    d03_RAINNC.nc``: cumulative RAINNC from seeded uniform increments,
    the forecast window shifted ``shift_slots(T)`` steps per cycle, and
    a distinct mtime per cycle (the fgt the latest-wins merge resolves
    on)."""
    from curw_wrf_data_pusher_spark.sources.netcdf3 import NetCDF3Writer

    t_n, sn, we = dims
    epoch = dt.datetime(2024, 6, 1) + dt.timedelta(
        minutes=15 * shift_slots(t_n) * cycle)
    lats = np.linspace(5.73, 10.06, sn).astype("f4")
    lons = np.linspace(79.53, 82.19, we).astype("f4")
    for i, system in enumerate(systems):
        path = os.path.join(watch, f"run{cycle}", system, "d03_RAINNC.nc")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rng = np.random.default_rng([seed, cycle, i])
        w = NetCDF3Writer(path)
        w.createDimension("Time", None)
        w.createDimension("south_north", sn)
        w.createDimension("west_east", we)
        xt = w.createVariable("XTIME", "i8", ("Time",))
        xt[:] = 15 * (np.arange(t_n, dtype="i8") + 1)
        xt.description = f"minutes since {epoch:%Y-%m-%d %H:%M:%S}"
        for name, arr in (
            ("XLAT", np.broadcast_to(lats[None, :, None], (t_n, sn, we))),
            ("XLONG", np.broadcast_to(lons[None, None, :], (t_n, sn, we))),
            ("RAINNC", np.cumsum(
                rng.uniform(0, 3, size=(t_n, sn, we)).astype("f4"), axis=0)),
        ):
            v = w.createVariable(
                name, "f4", ("Time", "south_north", "west_east"))
            v[:] = np.ascontiguousarray(arr)
        w.close()
        t = mtime_base + 9000 * cycle
        os.utime(path, (t, t))


def shift_slots(t_n: int) -> int:
    """Steps between consecutive cycles' windows.  The real day's
    289-step files start 6 h (24 steps) apart, so a cycle overlaps
    the previous one on 11/12 of its steps; a shorter time axis keeps
    that share down to 13 steps, and below that shifts by one step."""
    return max(1, (t_n - 1) // 12)


def latest_rows(t_n: int, cycles: int) -> int:
    """(tms_id, time) keys per series after ``cycles`` overlapping
    pushes of ``t_n``-step files (the first step is consumed by the
    lag diff)."""
    return (t_n - 1) + shift_slots(t_n) * (cycles - 1)


def fingerprint(df) -> tuple[int, int]:
    """Order-insensitive (rows, xor of xxhash64 over every column as
    string) — the check ``scripts/operational_day.py`` uses."""
    from pyspark.sql import functions as F

    row = df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
        .alias("h")
    ).agg(F.count("*").alias("n"), F.bit_xor("h").alias("x")).first()
    return int(row.n), int(row.x or 0)


def latest_wins(fact):
    """Batch recomputation of the K1 merge: later fgt wins per key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("tms_id", "time").orderBy(F.col("fgt").desc())
    return (fact.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn"))


class _Wrf:
    """Shared state of the two WRF workloads."""

    #: the store build is most of a run; it is timed once
    setup_reps = 1

    def __init__(self, spark, tracer, work, seed, dims, systems):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.dims, self.systems = seed, dims, list(systems)
        self.cfg = wrf_config(systems)
        self.root = None

    def _fresh_root(self, rep: int) -> str:
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work, f"rep{rep}")
        os.makedirs(self.root)
        return self.root

    @staticmethod
    def failed_jobs(bad: list[str], jobs) -> set[str]:
        """Every job produces the checked output, so a failed check
        fails them all."""
        return {j["name"] for j in jobs} if bad else set()

    def read_cycle(self, cycle: int):
        from curw_wrf_data_pusher_spark.sources.netcdf import (
            read_wrf_grid_split,
        )

        return read_wrf_grid_split(
            self.spark, os.path.join(self.root, "watch", f"run{cycle}"),
            bbox=WORLD)

    def raw_latest(self):
        """The checks' reference: the per-file reader over every cycle's
        files, ``push_wrf_grid``, then latest-wins."""
        from curw_wrf_data_pusher_spark.plans.wrf_push import push_wrf_grid
        from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid

        grid = read_wrf_grid(
            self.spark, os.path.join(self.root, "watch"), bbox=WORLD)
        return latest_wins(push_wrf_grid(grid, self.cfg)[0])


class WrfPush(_Wrf):
    """E1: each timed job pushes the overlapping second cron cycle onto
    the store the first cycle created (restored before every job, so
    every job does the same merge)."""

    def build(self, rep: int) -> None:
        from curw_wrf_data_pusher_spark.plans.runner import run_wrf_push

        root = self._fresh_root(rep)
        for cycle in (0, 1):
            build_cycle_files(os.path.join(root, "watch"), cycle,
                              self.systems, self.dims, self.seed)
        self.store = os.path.join(root, "store")
        report = run_wrf_push(self.spark, self.cfg, self.read_cycle(0),
                              self.store)
        if not report.ok:
            raise RuntimeError(f"cycle-0 push failed: {report.steps}")

    def warm(self) -> None:
        self.snapshot = self.store + ".cycle0"
        shutil.copytree(self.store, self.snapshot)

    def jobs(self):
        return [("cycle1", self.push_cycle)]

    def before_job(self) -> None:
        shutil.rmtree(self.store)
        shutil.copytree(self.snapshot, self.store)

    def push_cycle(self) -> dict:
        from curw_wrf_data_pusher_spark.plans.runner import run_wrf_push

        t0 = time.time()
        with self.tracer.span("sources.netcdf") as read_sp:
            grid = self.read_cycle(1)
        with self.tracer.span("plans.runner.run_wrf_push") as push_sp:
            report = run_wrf_push(self.spark, self.cfg, grid, self.store)
        written, files = du_bytes(self.store, newer_than=t0)
        return {"ok": report.ok, "store_bytes": written, "files": files,
                "rows_written": report.steps[0].get("rows", 0),
                "grid": grid, "spans": (read_sp, push_sp)}

    def check(self) -> list[str]:
        """The store's latest view equals latest-wins over both cycles,
        with the exact expected row count; one run row per series."""
        t_n, sn, we = self.dims
        cols = ["tms_id", "time", "fgt", "value"]
        expected = self.raw_latest()
        got = self.spark.read.parquet(
            os.path.join(self.store, "fcst_data")).select(*cols)
        n_rows = len(self.systems) * sn * we * latest_rows(t_n, 2)
        bad = []
        fp_got = fingerprint(got)
        if fp_got != fingerprint(expected.select(*cols)):
            bad.append("store latest view != latest-wins recomputation")
        if fp_got[0] != n_rows:
            bad.append(f"store rows {fp_got[0]} != {n_rows}")
        n_runs = self.spark.read.parquet(
            os.path.join(self.store, "run")).count()
        if n_runs != len(self.systems) * sn * we:
            bad.append(f"run rows {n_runs} != {len(self.systems) * sn * we}")
        return bad

    def layers(self, job: dict) -> dict:
        """Per-layer figures of one traced job.  ``push_wrf_grid`` is
        lazy, so its cost and the decode's are the differences of two
        noop probes: grid, then grid -> fact."""
        from curw_wrf_data_pusher_spark.plans.wrf_push import push_wrf_grid

        read_sp, push_sp = job["spans"]
        p_grid = self.tracer.probe("probe.sources.netcdf", job["grid"])
        fact, _ = push_wrf_grid(job["grid"], self.cfg)
        p_fact = self.tracer.probe("probe.plans.wrf_push", fact)
        return {"read": read_sp, "push": push_sp,
                "p_grid": p_grid, "p_fact": p_fact,
                "rows_written": job["rows_written"],
                "store_bytes": job["store_bytes"], "files": job["files"]}

    @staticmethod
    def layer_metrics(rec: dict, log) -> dict:
        read, push = rec["read"], rec["push"]
        p_grid, p_fact = rec["p_grid"], rec["p_fact"]
        job_stages = log.stages_of([read["id"], push["id"]])
        decode = log.stages_with_node(job_stages, "MapInArrow")
        grid_st = log.stages_of([p_grid["id"]])
        fact_st = log.stages_of([p_fact["id"]])
        g, f = stage_summary(log, grid_st), stage_summary(log, fact_st)
        window_st = [s for s in fact_st
                     if s not in log.stages_with_node(fact_st, "MapInArrow")]
        sink = stage_summary(log, log.stages_of([push["id"]]))
        return {
            "sources.netcdf.self_s": dur(read) + dur(p_grid),
            "sources.netcdf.cpu_s": read["cpu_s"] + p_grid["cpu_s"],
            "sources.netcdf.cells_decoded":
                log.metric(job_stages, "MapInArrow", "number of output rows"),
            "sources.netcdf.decode_passes": len(decode),
            "sources.netcdf.failed_tasks":
                stage_summary(log, log.stages_of([read["id"]]) + grid_st)
                ["failed_tasks"],
            "plans.wrf_push.self_s": dur(p_fact) - dur(p_grid),
            "plans.wrf_push.shuffle_write_mb":
                f["shuffle_write_mb"] - g["shuffle_write_mb"],
            "plans.wrf_push.spill_mb": f["spill_mb"] - g["spill_mb"],
            "plans.wrf_push.task_skew":
                stage_summary(log, window_st)["task_skew"],
            "plans.wrf_push.rows_out": p_fact["rows"],
            "plans.wrf_push.failed_tasks":
                f["failed_tasks"] - g["failed_tasks"],
            "sinks.upsert.self_s": dur(push) - dur(p_fact),
            "sinks.upsert.jobs":
                sum(1 for sp in log.jobs.values() if sp == push["id"]),
            "sinks.upsert.rows_written": rec["rows_written"],
            "sinks.upsert.rewrite_ratio":
                rec["rows_written"] / max(1, p_fact["rows"]),
            "sinks.upsert.files_written": rec["files"],
            "sinks.upsert.bytes_written_mb": rec["store_bytes"] / 1e6,
            "sinks.upsert.failed_tasks": sink["failed_tasks"],
        }


class WrfServe(_Wrf):
    """A6 + E3 + E2: each timed job is one serve request over a bucketed
    fact store holding two overlapping cycles."""

    FACT, OBS = "pb_fact", "pb_obs"

    def build(self, rep: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
            append_fact_rows,
            create_fact_store,
        )
        from curw_wrf_data_pusher_spark.plans.wrf_push import push_wrf_grid
        from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet

        spark = self.spark
        root = self._fresh_root(rep)
        for cycle in (0, 1):
            build_cycle_files(os.path.join(root, "watch"), cycle,
                              self.systems, self.dims, self.seed)
        spark.sql(f"DROP TABLE IF EXISTS {self.FACT}")
        grids = [self.read_cycle(cycle).persist() for cycle in (0, 1)]
        for cycle, grid in enumerate(grids):
            fact, runs = push_wrf_grid(grid, self.cfg)
            if cycle == 0:
                create_fact_store(
                    spark, fact, self.FACT, num_buckets=FACT_BUCKETS,
                    path=os.path.join(root, "store", "fact"),
                    batch=f"b{cycle:08d}")
            else:
                append_fact_rows(spark, self.FACT, fact,
                                 batch=f"b{cycle:08d}")
        # run dim: the later cycle's runs cover every series with the
        # newest fgt, which is what the K2 upsert of both cycles leaves;
        # station ids minted in name order (wrf_data_pusher.py:222)
        self.run_path = os.path.join(root, "store", "run")
        upsert_parquet(spark, runs.withColumn("station_id", F.dense_rank()
                                              .over(Window.orderBy("station"))
                                              .cast("long")),
                       self.run_path, keys=["tms_id"])
        for grid in grids:
            grid.unpersist()

    def warm(self) -> None:
        """The serving side's inputs, built once: run dim, obs store
        and grid map."""
        from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
            create_obs_store,
        )

        self.runs = self.spark.read.parquet(self.run_path).cache()
        self.obs_station, self.obs_data = self._obs_world()
        self.spark.sql(f"DROP TABLE IF EXISTS {self.OBS}")
        create_obs_store(self.spark, self.obs_data, self.OBS, num_buckets=8,
                         path=os.path.join(self.root, "store", "obs"))
        self.grid_map = self._grid_map()
        self.n_request = 0

    def _obs_world(self):
        """Seeded gauges inside the Kelani extent with 15-min readings
        over the forecast span (scripts/operational_day.py
        build_obs_world)."""
        rng = np.random.default_rng([self.seed, 7])
        lat = rng.uniform(6.65, 7.35, N_OBS)
        lon = rng.uniform(79.65, 80.95, N_OBS)
        station = self.spark.createDataFrame(
            [(200 + s, f"gauge{s:03d}", float(lon[s]), float(lat[s]),
              "2024-06-01 00:00:00") for s in range(N_OBS)],
            "station_id long, hash_id string, longitude double,"
            " latitude double, last_active string")
        times = [f"2024-06-01 {5 + (m + 45) // 60:02d}:{(m + 45) % 60:02d}:00"
                 for m in range(0, 36 * 60, 15)]
        data = self.spark.createDataFrame(
            [(f"gauge{s:03d}", t, round(float(rng.uniform(0, 5)), 2))
             for s in range(N_OBS) for t in times],
            "hash_id string, time string, value double")
        return station.cache(), data.cache()

    def _grid_map(self):
        """F5: nearest d03 station per gauge (J4), materialised once —
        the reference builds its grid maps offline."""
        from pyspark.sql import functions as F

        from curw_wrf_data_pusher_spark.operators.joins import (
            nearest_neighbor_map,
        )

        d03 = self.runs.select(
            F.col("station_id").alias("d03_station_id"),
            F.col("latitude").alias("d_lat"),
            F.col("longitude").alias("d_lon"),
        ).dropDuplicates(["d03_station_id"])
        rows = nearest_neighbor_map(
            self.obs_station.select(
                F.col("station_id").alias("obs_station_id"),
                "latitude", "longitude"),
            d03, left_key="obs_station_id", right_key="d03_station_id",
            distance=(F.col("latitude") - F.col("d_lat")) ** 2
            + (F.col("longitude") - F.col("d_lon")) ** 2,
            k=1,
        ).select("obs_station_id", "d03_station_id", "rank").collect()
        return self.spark.createDataFrame(
            rows, "obs_station_id long, d03_station_id long, rank int")

    @property
    def sources(self):
        return [f"WRF_{s}" for s in self.systems]

    def jobs(self):
        return [("request", self.serve)]

    def before_job(self) -> None:
        old = getattr(self, "out", None)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        self.n_request += 1
        self.out = os.path.join(self.root, f"request{self.n_request}")

    def rframe(self):
        from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
            read_fact_latest,
        )

        latest = read_fact_latest(self.spark, self.FACT).select(
            "tms_id", "time", "value")
        geo = self.runs.select("tms_id", "source", "longitude", "latitude")
        return latest.join(geo, on="tms_id").select(
            "source", "time", "longitude", "latitude", "value")

    def serve(self) -> dict:
        from pyspark.sql import functions as F

        from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
            build_hybrid_from_stores,
            latest_fgt_per_series,
        )
        from curw_wrf_data_pusher_spark.sinks.rfield_files import (
            write_rfield_files,
        )
        from curw_wrf_data_pusher_spark.sources.netcdf import KELANI_EXTENT

        spark, out = self.spark, self.out
        with self.tracer.span("plans.bucketed_lake") as a6_sp:
            latest_fgt_per_series(spark, self.FACT).write.mode(
                "overwrite").parquet(os.path.join(out, "latest_fgt"))
        with self.tracer.span("plans.hybrid") as hyb_sp:
            build_hybrid_from_stores(
                spark, self.FACT, self.OBS, self.runs, self.obs_station,
                self.grid_map, sources=self.sources,
                out_dir=os.path.join(out, "hybrid"))
        with self.tracer.span("sinks.rfield_files") as rf_sp:
            rframe = self.rframe()
            files = write_rfield_files(
                rframe, os.path.join(out, "rfields", "d03"),
                group_cols=["source", "time"])
            kelani = rframe.filter(
                F.col("longitude").between(
                    KELANI_EXTENT["lon_min"], KELANI_EXTENT["lon_max"])
                & F.col("latitude").between(
                    KELANI_EXTENT["lat_min"], KELANI_EXTENT["lat_max"]))
            files += write_rfield_files(
                kelani, os.path.join(out, "rfields", "kelani"),
                group_cols=["source", "time"])
        written, _ = du_bytes(out)
        return {"ok": True, "store_bytes": written, "files": len(files),
                "spans": (a6_sp, hyb_sp, rf_sp)}

    def check(self) -> list[str]:
        """The request's hybrid CSVs are byte-identical to
        ``build_hybrid_rfield`` over the raw frames; every rfield file
        holds the full grid in ``xy.csv`` order."""
        from curw_wrf_data_pusher_spark.plans.hybrid import (
            build_hybrid_rfield,
        )

        bad = []
        fact_lat = self.raw_latest().select("tms_id", "time", "value")
        fact_lat = fact_lat.persist()
        ref = os.path.join(self.root, "check_hybrid")
        build_hybrid_rfield(
            fact_lat, self.runs, self.obs_station, self.obs_data,
            self.grid_map, sources=self.sources, out_dir=ref)
        for name in ("hybrid_full.csv", "hybrid_fcst.csv",
                     "hybrid_kelani.csv"):
            got = os.path.join(self.out, "hybrid", name)
            if not filecmp.cmp(got, os.path.join(ref, name), shallow=False):
                bad.append(f"{name} differs from the raw-frame route")
        if self.hybrid_rows() == 0:
            bad.append("hybrid_full.csv has no rows")
        bad += self._check_rfields(fact_lat)
        fact_lat.unpersist()
        return bad

    def count_series(self, df) -> int:
        with self.tracer.span("probe.plans.hybrid.series"):
            return df.select("tms_id").distinct().count()

    def hybrid_rows(self) -> int:
        with open(os.path.join(self.out, "hybrid", "hybrid_full.csv")) as f:
            return sum(1 for _ in f) - 1

    def _check_rfields(self, fact_lat) -> list[str]:
        from pyspark.sql import functions as F

        from curw_wrf_data_pusher_spark.sources.netcdf import KELANI_EXTENT

        t_n, sn, we = self.dims
        expected = (
            fact_lat.join(self.runs.select(
                "tms_id", "source", "longitude", "latitude"), on="tms_id")
            .orderBy("source", "time", "longitude", "latitude")
            .select("source", "time", "longitude", "latitude",
                    F.col("value").cast("string").alias("v"))
        ).toPandas()
        bad = []
        if len(expected) != len(self.systems) * sn * we * latest_rows(t_n, 2):
            bad.append(f"latest view has {len(expected)} rows")
        k = KELANI_EXTENT
        subsets = {"d03": expected, "kelani": expected[
            expected.longitude.between(k["lon_min"], k["lon_max"])
            & expected.latitude.between(k["lat_min"], k["lat_max"])]}
        for sub, cells in subsets.items():
            d = os.path.join(self.out, "rfields", sub)
            with open(os.path.join(d, "xy.csv")) as f:
                xy = [tuple(map(float, ln.split(","))) for ln in
                      f.read().splitlines()[1:]]
            if xy != sorted(set(zip(cells.longitude, cells.latitude))):
                bad.append(f"{sub}: xy.csv is not the sorted grid")
            groups = {
                f"rfield_{src}_{t.replace(':', '_').replace(' ', '_')}.txt":
                    grp for (src, t), grp in cells.groupby(["source", "time"])
            }
            files = {n for n in os.listdir(d) if n.startswith("rfield_")}
            if files != set(groups):
                bad.append(f"{sub}: {len(files)} rfield files, expected "
                           f"{len(groups)}")
            for name, grp in groups.items():
                if name not in files:
                    continue
                with open(os.path.join(d, name)) as f:
                    vals = f.read().splitlines()
                if (list(zip(grp.longitude, grp.latitude)) != xy
                        or vals != list(grp.v)):
                    bad.append(f"{sub}: {name} not aligned to xy.csv")
        return bad

    def layers(self, job: dict) -> dict:
        """Per-layer figures of one traced request.  The store reads are
        lazy inside the eager sinks, so each sink's own cost is its
        span minus a noop probe of the frame it consumes."""
        from pyspark.sql import functions as F

        from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
            read_fact_latest,
        )

        a6, hyb, rf = job["spans"]
        mapped = self.runs.join(
            F.broadcast(self.grid_map.select(
                F.col("d03_station_id").alias("station_id")).distinct()),
            on="station_id", how="left_semi").select("tms_id")
        pruned = read_fact_latest(self.spark, self.FACT, series=mapped)
        p_view = self.tracer.probe(
            "probe.bucketed_lake.view", read_fact_latest(self.spark, self.FACT))
        p_pruned = self.tracer.probe("probe.bucketed_lake.pruned", pruned)
        p_rframe = self.tracer.probe("probe.rfield_files.input", self.rframe())
        return {"a6": a6, "hyb": hyb, "rf": rf, "p_view": p_view,
                "p_pruned": p_pruned, "p_rframe": p_rframe,
                "series": self.count_series(pruned),
                "hybrid_rows": self.hybrid_rows(), "files": job["files"],
                "rfield_bytes": du_bytes(os.path.join(self.out, "rfields"))[0]}

    @classmethod
    def layer_metrics(cls, rec: dict, log) -> dict:
        a6, hyb, rf = rec["a6"], rec["hyb"], rec["rf"]
        p_view, p_pruned, p_rframe = (
            rec["p_view"], rec["p_pruned"], rec["p_rframe"])
        scan = f"Scan parquet spark_catalog.default.{cls.FACT}"
        req = log.stages_of([a6["id"], hyb["id"], rf["id"]])
        view_scanned = log.metric(log.stages_of([p_view["id"]]), scan,
                                  "number of output rows")
        lake = stage_summary(log, log.stages_of(
            [a6["id"], p_view["id"], p_pruned["id"]]))
        rfs = stage_summary(log, log.stages_of([rf["id"]]))
        return {
            "plans.bucketed_lake.self_s":
                dur(a6) + dur(p_view) + dur(p_pruned),
            "plans.bucketed_lake.rows_scanned":
                log.metric(req, scan, "number of output rows"),
            "plans.bucketed_lake.read_amplification":
                view_scanned / max(1, p_view["rows"]),
            "plans.bucketed_lake.exchanges":
                log.plan_nodes([a6["id"], p_view["id"]], "Exchange"),
            "plans.bucketed_lake.failed_tasks": lake["failed_tasks"],
            "sinks.rfield_files.self_s": dur(rf) - dur(p_rframe),
            "sinks.rfield_files.files": rec["files"],
            "sinks.rfield_files.bytes_mb": rec["rfield_bytes"] / 1e6,
            "sinks.rfield_files.task_skew": rfs["task_skew"],
            "sinks.rfield_files.failed_tasks": rfs["failed_tasks"],
            "plans.hybrid.self_s": dur(hyb) - dur(p_pruned),
            "plans.hybrid.rows_out": rec["hybrid_rows"],
            "plans.hybrid.series_scanned": rec["series"],
            "plans.hybrid.failed_tasks": stage_summary(
                log, log.stages_of([hyb["id"]]))["failed_tasks"],
        }

