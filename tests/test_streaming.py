"""Structured-Streaming view tests (SURVEY §2.10): file-drop →
foreachBatch E1 push → idempotent upsert store; windowed obs resample."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from curw_wrf_data_pusher_spark.sinks.upsert import upsert_parquet
from curw_wrf_data_pusher_spark.streaming.file_stream import (
    windowed_obs_resample,
)

from .test_wrf_pipeline import CFG
from .wrf_fixture import EPOCH_STR, FGT_UTC, make_grid_pdf


def test_windowed_obs_resample_batch_parity(spark):
    rows = [
        ("h1", "2024-06-01 00:03:00", 1.0),
        ("h1", "2024-06-01 00:07:00", 2.0),   # same 15-min window
        ("h1", "2024-06-01 00:16:00", 4.0),   # next window
        ("h2", "2024-06-01 00:01:00", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "hash_id string, time string, value double"
    ).withColumn("time", F.col("time").cast("timestamp"))
    out = windowed_obs_resample(df).toPandas()
    got = {
        (r.hash_id, str(r.time)): r.value for r in out.itertuples()
    }
    assert got[("h1", "2024-06-01 00:15:00")] == 3.0
    assert got[("h1", "2024-06-01 00:30:00")] == 4.0
    assert got[("h2", "2024-06-01 00:15:00")] == 8.0


def test_dedup_within_watermark(spark, tmp_path):
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        dedup_within_watermark,
    )

    watch = str(tmp_path / "w")
    out = str(tmp_path / "out")
    os.makedirs(watch)
    rows = [
        ("g1", "2024-06-01 00:00:00", 1.0),
        ("g1", "2024-06-01 00:00:00", 1.0),   # duplicate delivery
        ("g1", "2024-06-01 00:15:00", 2.0),
        ("g2", "2024-06-01 00:00:00", 3.0),
    ]
    (
        spark.createDataFrame(rows, "hash_id string, time string, value double")
        .withColumn("time", F.col("time").cast("timestamp"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(watch, "b1"))
    )
    stream = (
        spark.readStream.schema("hash_id string, time timestamp, value double")
        .option("recursiveFileLookup", "true")
        .parquet(watch)
    )
    q = (
        dedup_within_watermark(stream, keys=["hash_id", "time"])
        .writeStream.foreachBatch(
            lambda df, _eid: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 3  # duplicate dropped
    assert got.dropDuplicates(["hash_id", "time"]).count() == 3


def test_session_window_agg_batch_semantics(spark):
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        session_window_agg,
    )

    rows = [
        ("u1", "2024-06-01 00:00:00", 1.0),
        ("u1", "2024-06-01 00:10:00", 2.0),   # same session (gap 30m)
        ("u1", "2024-06-01 01:00:00", 4.0),   # > 30m idle → new session
        ("u2", "2024-06-01 00:05:00", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "hash_id string, time string, value double"
    ).withColumn("time", F.col("time").cast("timestamp"))
    out = {
        (r.hash_id, str(r.session_start)): (r.n_events, r.total,
                                            str(r.session_end))
        for r in session_window_agg(df).collect()
    }
    # session end = last event + gap (session_window convention)
    assert out[("u1", "2024-06-01 00:00:00")] == (
        2, 3.0, "2024-06-01 00:40:00")
    assert out[("u1", "2024-06-01 01:00:00")] == (
        1, 4.0, "2024-06-01 01:30:00")
    assert out[("u2", "2024-06-01 00:05:00")] == (
        1, 8.0, "2024-06-01 00:35:00")
    assert len(out) == 3


def test_session_window_agg_streaming_merges_across_batches(
    spark, tmp_path
):
    """Two availableNow runs over the same checkpoint: the second
    drop's event falls inside the first session's gap, so the stateful
    merge must extend it — the emitted session covers both drops.  A
    far-future flush event advances the watermark so earlier sessions
    finalize for append-mode emission (its own session stays open and
    unemitted, as streaming semantics require)."""
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        session_window_agg,
    )

    watch = str(tmp_path / "w")
    store = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    schema = "hash_id string, time timestamp, value double"

    def _drop(rows, name):
        (
            spark.createDataFrame(
                rows, "hash_id string, time string, value double"
            )
            .withColumn("time", F.col("time").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(watch, name))
        )

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(watch)
        )
        q = (
            session_window_agg(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _drop(
        [("u1", "2024-06-01 00:00:00", 1.0),
         ("u1", "2024-06-01 00:10:00", 2.0)],
        "drop1",
    )
    _run()
    # session still open (watermark hasn't passed its end): nothing
    # finalized yet
    _drop(
        [("u1", "2024-06-01 00:20:00", 4.0),      # extends the session
         ("u1", "2024-06-01 12:00:00", 99.0)],    # watermark flush
        "drop2",
    )
    _run()
    out = {
        (r.hash_id, str(r.session_start)): (r.n_events, r.total,
                                            str(r.session_end))
        for r in spark.read.parquet(store).collect()
    }
    # ONE merged session across both drops; the flush event's own
    # session is still open and therefore absent
    assert out == {
        ("u1", "2024-06-01 00:00:00"): (3, 7.0, "2024-06-01 00:50:00")
    }


def test_stream_stream_join_across_batches(spark, tmp_path):
    """Obs and forecasts land in SEPARATE drops/runs: the join state
    must hold the unmatched side across micro-batches (within the
    watermark) and emit the pair when the partner arrives."""
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        stream_stream_join,
    )

    obs_dir = str(tmp_path / "obs")
    fcst_dir = str(tmp_path / "fcst")
    store = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(obs_dir)
    os.makedirs(fcst_dir)
    schema = "hash_id string, time timestamp, value double"

    def _drop(dirname, rows, name):
        (
            spark.createDataFrame(
                rows, "hash_id string, time string, value double"
            )
            .withColumn("time", F.col("time").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(dirname, name))
        )

    def _run():
        o = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(obs_dir)
        )
        f = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(fcst_dir)
        )
        q = (
            stream_stream_join(o, f)
            .writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # drop 1: obs only — nothing can join yet
    _drop(obs_dir, [("h1", "2024-06-01 00:05:00", 1.5)], "d1")
    _drop(fcst_dir, [("h2", "2024-06-01 00:02:00", 9.0)], "d1")
    _run()
    # drop 2: the matching forecast for h1's window + an h2 obs
    _drop(fcst_dir, [("h1", "2024-06-01 00:11:00", 1.0)], "d2")
    _drop(obs_dir, [("h2", "2024-06-01 00:01:00", 9.5)], "d2")
    _run()
    out = {
        (r.hash_id, str(r.window_end)): (r.obs_value, r.fcst_value,
                                         r.residual)
        for r in spark.read.parquet(store).collect()
    }
    assert out == {
        ("h1", "2024-06-01 00:15:00"): (1.5, 1.0, 0.5),
        ("h2", "2024-06-01 00:15:00"): (9.5, 9.0, 0.5),
    }


def test_stream_stream_join_batch_parity(spark):
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        stream_stream_join,
    )

    obs = spark.createDataFrame(
        [("h1", "2024-06-01 00:05:00", 2.0),
         ("h1", "2024-06-01 00:20:00", 4.0)],
        "hash_id string, time string, value double",
    ).withColumn("time", F.col("time").cast("timestamp"))
    fcst = spark.createDataFrame(
        [("h1", "2024-06-01 00:10:00", 1.0)],
        "hash_id string, time string, value double",
    ).withColumn("time", F.col("time").cast("timestamp"))
    rows = stream_stream_join(obs, fcst).collect()
    assert len(rows) == 1 and rows[0].residual == 1.0
    assert str(rows[0].window_end) == "2024-06-01 00:15:00" 
    # left outer keeps the unmatched second window
    lo = stream_stream_join(obs, fcst, how="left_outer").collect()
    assert len(lo) == 2
    assert {r.fcst_value for r in lo} == {1.0, None}


def test_windowed_obs_resample_streaming_late_arrivals(spark, tmp_path):
    """Watermarked 15-min tumbling windows across micro-batches (the
    reference's obs cadence, wrf_data_pusher.py:264-268 semantics):

    - a late reading WITHIN the 30-min watermark still lands in its
      (not-yet-finalized) window;
    - a reading arriving BEYOND the watermark — its window already
      emitted — is dropped, and the emitted row never changes
      (append-mode finality).

    s10_window_resample is this plan's oracle-gated batch twin; this
    test pins the streaming-only semantics (state, lateness, emission)
    the batch oracle can't see."""
    watch = str(tmp_path / "w")
    store = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    schema = "hash_id string, time timestamp, value double"

    def _drop(rows, name):
        (
            spark.createDataFrame(
                rows, "hash_id string, time string, value double"
            )
            .withColumn("time", F.col("time").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(watch, name))
        )

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(watch)
        )
        q = (
            windowed_obs_resample(
                stream, window="15 minutes", watermark="30 minutes"
            )
            .writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _drop(
        [("h1", "2024-06-01 00:03:00", 1.0),
         ("h1", "2024-06-01 00:07:00", 2.0),
         ("h1", "2024-06-01 01:00:00", 16.0)],  # advances watermark to 00:30
        "drop1",
    )
    _run()
    emitted1 = {
        (r.hash_id, str(r.time)): r.value
        for r in spark.read.parquet(store).collect()
    }
    # only [00:00,00:15) is past the watermark -> finalized and emitted
    assert emitted1 == {("h1", "2024-06-01 00:15:00"): 3.0}

    _drop(
        [("h1", "2024-06-01 00:05:00", 100.0),  # beyond watermark: window
                                                # end 00:15 < wm 00:30 -> drop
         ("h1", "2024-06-01 00:40:00", 4.0),    # late but within watermark:
                                                # window [00:30,00:45) open
         ("h1", "2024-06-01 06:00:00", 99.0)],  # watermark flush
        "drop2",
    )
    _run()
    emitted2 = {
        (r.hash_id, str(r.time)): r.value
        for r in spark.read.parquet(store).collect()
    }
    assert emitted2 == {
        ("h1", "2024-06-01 00:15:00"): 3.0,   # unchanged: too-late dropped
        ("h1", "2024-06-01 00:45:00"): 4.0,   # within-watermark late landed
        ("h1", "2024-06-01 01:15:00"): 16.0,  # finalized by the flush
        # the 06:00 flush event's own window stays open -> absent
    }


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static broadcast join: readings stream in, the station
    dim is static — every emitted row carries its dim attributes, with
    no state and no watermark needed."""
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        enrich_with_dim,
    )

    watch = str(tmp_path / "w")
    store = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    dim = spark.createDataFrame(
        [("h1", "Colombo", 6.93), ("h2", "Kandy", 7.29)],
        "hash_id string, station string, lat double",
    )
    (
        spark.createDataFrame(
            [("h1", "2024-06-01 00:03:00", 1.0),
             ("h2", "2024-06-01 00:04:00", 2.0),
             ("h9", "2024-06-01 00:05:00", 9.0)],  # no dim row
            "hash_id string, time string, value double",
        )
        .withColumn("time", F.col("time").cast("timestamp"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(watch, "drop1"))
    )
    stream = (
        spark.readStream
        .schema("hash_id string, time timestamp, value double")
        .option("recursiveFileLookup", "true")
        .parquet(watch)
    )
    q = (
        enrich_with_dim(stream, dim, on="hash_id")
        .writeStream.format("parquet")
        .option("path", store)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.hash_id, r.station, r.value)
        for r in spark.read.parquet(store).collect()
    }
    assert got == {
        ("h1", "Colombo", 1.0),
        ("h2", "Kandy", 2.0),
        ("h9", None, 9.0),  # left join: unmatched keys survive
    }


def test_stream_wrf_nc_push_decodes_raw_files(spark, tmp_path):
    """The reference's whole operational loop as ONE streaming job:
    raw .nc files land in the watch dir, the binaryFile stream decodes
    REAL bytes (pure-Python codecs) and pushes through E1 into the
    upsert store.  A second availableNow run over the same checkpoint
    processes only NEW files (exactly-once discovery); a third
    re-delivers a system with a newer file mtime, which replaces that
    system's rows with the new fgt and adds none.  The final store
    equals the batch route (read_wrf_grid + push) over the current
    files."""
    from curw_wrf_data_pusher_spark.plans.wrf_push import push_wrf_grid
    from curw_wrf_data_pusher_spark.sources.netcdf import (
        read_wrf_grid,
        write_netcdf_grid,
    )
    from curw_wrf_data_pusher_spark.streaming.file_stream import (
        stream_wrf_nc_push,
    )

    world = {"lat_min": -90, "lat_max": 90,
             "lon_min": -180, "lon_max": 180}
    watch = str(tmp_path / "watch")
    store = str(tmp_path / "store")
    os.makedirs(watch)
    pdf = make_grid_pdf()

    def grid_of(sub):
        return (
            spark.createDataFrame(sub)
            .withColumn("source_file", F.lit("d03_RAINNC.nc"))
            .withColumn(
                "fgt_utc", F.lit(FGT_UTC).cast("timestamp")
            )
            .withColumn("epoch_str", F.lit(EPOCH_STR))
        )

    def sink(fact, runs):
        fact = fact.withColumn("time_date", F.substring("time", 1, 10))
        upsert_parquet(
            spark, fact, store, keys=["tms_id", "time"],
            partition_cols=["time_date"],
        )

    # drop 1: system A only, as a REAL .nc file
    write_netcdf_grid(
        grid_of(pdf[pdf.wrf_system == "A"]), os.path.join(watch, "d1")
    ).collect()
    q = stream_wrf_nc_push(
        spark, watch, CFG, sink, str(tmp_path / "ckpt"),
        available_now=True, bbox=world,
    )
    q.awaitTermination()
    n1 = spark.read.parquet(store).count()
    assert n1 == 12 * 6 * 5  # one system's lag-diffed grid

    # drop 2: system C lands; re-run over the SAME checkpoint — only
    # the new file is processed, the store gains exactly C's rows
    write_netcdf_grid(
        grid_of(pdf[pdf.wrf_system == "C"]), os.path.join(watch, "d2")
    ).collect()
    q = stream_wrf_nc_push(
        spark, watch, CFG, sink, str(tmp_path / "ckpt"),
        available_now=True, bbox=world,
    )
    q.awaitTermination()
    got = spark.read.parquet(store)
    assert got.count() == 2 * 12 * 6 * 5

    fgt_before = {
        r["tms_id"]: r["fgt"]
        for r in got.select("tms_id", "fgt").distinct().collect()
    }

    # drop 3: system d1 is RE-DELIVERED — a new file in the same system
    # dir with new values and a file mtime one hour newer
    (old_d1,) = glob.glob(os.path.join(watch, "d1", "*.nc"))
    staging = str(tmp_path / "staging")
    redone = pdf[pdf.wrf_system == "A"].assign(
        rainnc_cum=lambda d: d.rainnc_cum * 2
    )
    write_netcdf_grid(grid_of(redone), staging).collect()
    (staged,) = glob.glob(os.path.join(staging, "*.nc"))
    new_d1 = os.path.join(watch, "d1", "redelivered.nc")
    os.replace(staged, new_d1)
    mtime = os.stat(old_d1).st_mtime + 3600
    os.utime(new_d1, (mtime, mtime))
    q = stream_wrf_nc_push(
        spark, watch, CFG, sink, str(tmp_path / "ckpt"),
        available_now=True, bbox=world,
    )
    q.awaitTermination()
    got = spark.read.parquet(store)
    assert got.count() == 2 * 12 * 6 * 5  # rows replaced, no duplicates

    # the streamed store equals the batch route over the current files
    # (the re-delivered d1 file instead of the original)
    current = read_wrf_grid(spark, watch, bbox=world).filter(
        ~F.col("source_file").endswith(os.path.basename(old_d1))
    )
    fact_b, _runs_b = push_wrf_grid(current, CFG)
    want = sorted(
        (r["tms_id"], r["time"], r["value"], r["fgt"])
        for r in fact_b.collect()
    )
    have = sorted(
        (r["tms_id"], r["time"], r["value"], r["fgt"])
        for r in got.collect()
    )
    assert have == want

    # d1's series moved to the new fgt (one hour later), d2's kept theirs
    fgt_after = {
        r["tms_id"]: r["fgt"]
        for r in got.select("tms_id", "fgt").distinct().collect()
    }
    assert fgt_after.keys() == fgt_before.keys()
    fmt = "%Y-%m-%d %H:%M:%S"
    shift = {
        datetime.strptime(fgt_after[k], fmt)
        - datetime.strptime(fgt_before[k], fmt)
        for k in fgt_before
    }
    assert shift == {timedelta(0), timedelta(hours=1)}
    n_moved = sum(fgt_after[k] != fgt_before[k] for k in fgt_before)
    assert n_moved == 6 * 5  # every d1 grid cell, no d2 one
