"""Structured-Streaming view of the pipeline (SURVEY §2.10).

The reference is cron-driven batch: a daily file lands, the whole file
is (re)pushed as an upsert keyed by (tms_id, time) with a new fgt.
Streaming mapping:
- source discovery → ``binaryFile`` file-source stream over the raw
  ``.nc`` drop dir (replaces the path-probe `is_netcdf_ready.sh` gate);
- whole-file semantics → ``foreachBatch``: each micro-batch runs the
  SAME batch plan (persisted_push) and upserts idempotently — late or
  re-delivered files simply re-upsert with a newer fgt, exactly the
  reference's behavior;
- "latest" reads stay dedup-on-read (A6) against the store.

``windowed_obs_resample`` is the in-engine form of the reference's
external 15-min obs resampling (extract_obs_rain_15_min_ts,
gen_active_stations_rfields.py:205): tumbling event-time windows with
a watermark for late gauge readings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.config import WrfConfig
from ..plans.wrf_push import persisted_push
from ..sources.netcdf import decode_grid_slabs


def stream_wrf_nc_push(
    spark: SparkSession,
    watch_dir: str,
    cfg: WrfConfig,
    sink: Callable[[DataFrame, DataFrame], None],
    checkpoint_dir: str,
    available_now: bool = True,
    bbox: dict | None = None,
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """The reference's WHOLE operational loop as one streaming job:
    watch ``watch_dir`` for RAW ``.nc`` file arrivals (the
    ``is_netcdf_ready.sh`` + cron pair, wrf_data_pusher.py:321-340),
    decode each file with the pure-Python codecs and run the E1 push
    into ``sink(fact, runs)``.

    The source is the ``binaryFile`` format as a STREAMING file
    source — the checkpoint guarantees each .nc lands in exactly one
    micro-batch, and ``max_files_per_trigger=1``
    (the default) keeps the reference's one-file-per-run unit of work
    (the lag diff needs a file's full time axis in one batch, which a
    single .nc is by construction).  A LARGER cap — or ``None`` for
    no cap — is equally sound because files are only ever batched
    WHOLE (the series key includes ``source_file``, so lag windows
    never cross files) and lets a multi-system day decode its files
    in parallel within one micro-batch.  The stream carries only each
    file's ``path`` and ``modificationTime`` (content pruned), and
    every micro-batch decodes through the SAME ``decode_grid_slabs``
    stage as the batch reader, so the routes cannot drift."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp,"
            " length long, content binary"
        )
        .option("pathGlobFilter", "*.nc")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(watch_dir).select("path", "modificationTime")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n_files = batch_df.count()
        if n_files == 0:
            return
        grid = decode_grid_slabs(batch_df, n_files, bbox=bbox)
        with persisted_push(grid, cfg) as (fact, runs):
            sink(fact, runs)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    time_col: str = "time",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming re-delivery dedup (§2.10 "Late/updated data"): drop
    duplicate (keys) arriving within the watermark window — the
    streaming analogue of the reference's idempotent re-push, with
    bounded state (entries expire past the watermark instead of
    accumulating forever)."""
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def windowed_obs_resample(
    obs_stream: DataFrame,
    window: str = "15 minutes",
    watermark: str = "30 minutes",
    time_col: str = "time",
    key_col: str = "hash_id",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window resample of gauge readings to the model cadence,
    tolerating ``watermark`` of lateness. Works on both streaming and
    batch DataFrames (same plan)."""
    df = obs_stream
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(
            F.col(key_col),
            F.window(F.col(time_col), window).alias("w"),
        )
        .agg(F.sum(value_col).alias(value_col))
        .select(
            key_col,
            F.col("w.end").alias(time_col),
            value_col,
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    time_col: str = "time",
    key_col: str = "hash_id",
    value_col: str = "value",
) -> DataFrame:
    """Session-window aggregation — the streaming twin of the batch
    lag+cumsum sessionization (``queries/relational.py::w4_sessionize``):
    per-key sessions closed by ``gap`` of inactivity, with n_events /
    value total per session.  Works on streaming AND batch frames with
    the same plan.

    Streaming semantics: ``session_window`` is Spark's built-in
    MERGING stateful aggregation — state is one entry per (key, OPEN
    session), adjacent windows merge as events arrive (including
    across micro-batches), and the watermark both bounds that state
    and finalizes sessions for append-mode emission (a session is
    emitted once the watermark passes its end = last event + gap).

    Scale: no global windows, no per-key sort — state size tracks the
    number of concurrently-open sessions, not history.  Late events
    inside the watermark REOPEN/extend their session exactly like the
    batch recompute would."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(
            F.col(key_col),
            F.session_window(F.col(time_col), gap).alias("s"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("total"),
        )
        .select(
            key_col,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total",
        )
    )


def stream_stream_join(
    obs: DataFrame,
    fcst: DataFrame,
    key_col: str = "hash_id",
    time_col: str = "time",
    window: str = "15 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join of two event-time streams on
    (key, tumbling window) — the streaming twin of the reference's
    fcst⟕obs J2 join: observations and forecasts arrive on independent
    cadences and pair up per station per window as both sides show up.

    Both sides are watermarked, which BOUNDS THE JOIN STATE: a row
    waits at most ``watermark`` for its partner, then its state is
    evicted (with ``how='left_outer'`` the unmatched row is emitted
    with NULL partner columns at eviction — late-data semantics the
    batch join can't express).  Works identically on batch frames
    (same plan minus state).

    Scale: state is per (key, window) pending rows within the
    watermark horizon — arrival-rate-bounded, not history-bounded; the
    join itself shuffles on the (key, window) equality like any
    equi-join."""
    o = obs
    f = fcst
    if o.isStreaming:
        o = o.withWatermark(time_col, watermark)
    if f.isStreaming:
        f = f.withWatermark(time_col, watermark)
    # only ONE event-time-derived column may survive per stream (the
    # watermark tag follows every derived column; two tagged columns is
    # an AnalysisException) — the window struct carries the time
    # semantics, the raw timestamps stay behind.
    o = o.select(
        F.col(key_col),
        F.window(F.col(time_col), window).alias("w"),
        F.col("value").alias("obs_value"),
    )
    f = f.select(
        F.col(key_col).alias("__fk"),
        F.window(F.col(time_col), window).alias("__fw"),
        F.col("value").alias("fcst_value"),
    )
    joined = o.join(
        f,
        (F.col(key_col) == F.col("__fk")) & (F.col("w") == F.col("__fw")),
        how,
    )
    return joined.select(
        key_col,
        F.col("w.end").alias("window_end"),
        "obs_value",
        "fcst_value",
        (F.col("obs_value") - F.col("fcst_value")).alias("residual"),
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: "str | list[str]",
    how: str = "left",
) -> DataFrame:
    """Stream-static dim enrichment — the reference's J3 station/
    source lookup (wrf_data_pusher.py:222-260) applied to a live
    stream: each micro-batch joins the STATIC dim with an explicit
    broadcast hint, so the stream side never shuffles and no join
    state accrues (stream-static joins are stateless by definition —
    the static side is re-resolved per micro-batch, which also picks
    up dim-table updates between batches).

    Works identically on batch frames (same broadcast plan)."""
    return stream.join(F.broadcast(dim), on, how)
