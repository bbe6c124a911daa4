"""Bucketed fact-store lifecycle — K1 upserts, A6 latest dedup and the
run-dim join over a layout that pays its shuffle ONCE at ingest
(SURVEY §2.9 K1 wrf_data_pusher.py:119-140, §2.4 A6
gen_active_stations_rfields.py:191-193; scale work beyond the
reference's MySQL store).

The reference's MySQL store gives every reader a clustered primary key
``(tms_id, time)`` for free; a parquet lake does not.  Hive-style
bucketing by ``tms_id`` restores the property Spark can exploit: a
scan of the table already satisfies ``HashPartitioning(tms_id, N)``,
and EnsureRequirements accepts that for ANY required clustering that
*contains* ``tms_id`` (hash keys ⊆ clustering keys).  So every per-run
operation on the store plans with ZERO Exchange on the fact side:

- **merge-on-read latest-wins** (the K1 upsert semantics):
  ``row_number() over (partition by tms_id, time order by fgt desc)``
  — the window's required ``ClusteredDistribution(tms_id, time)`` is
  satisfied by the bucket partitioning; only the in-partition Sort
  remains (and that is O(bucket), not a shuffle).
- **A6 latest-fgt-per-series**: ``groupBy(tms_id).agg(max(fgt))`` —
  complete aggregation directly over the bucketed scan.
- **equi-join against a dim bucketed with the same (key, N)** —
  SortMergeJoin with no Exchange on either side (see
  ``sinks/bucketed.py`` for the generic contracts).

Upserts APPEND into the bucket layout (each batch adds ≤ one file per
bucket) so the push path is O(new batch) — no store rewrite, exactly
the cost profile of the reference's ``INSERT … ON DUPLICATE KEY
UPDATE``.  Readers resolve duplicates via the merge-on-read window;
:func:`compact_fact_store` folds the accumulated versions back to one
file per bucket when read amplification grows (same pattern as
``operators/rollup.py``'s compact-to-fresh-store).

At 100 TB: N buckets sized so one bucket ≈ one executor-core task
(e.g. 100 TB / 128 MB-256 MB targets ⇒ bucket COUNT in the hundreds of
thousands is wrong — buckets are not files; pick N ≈ 2-4× total
cluster cores and let each bucket hold many row groups).  The
merge-on-read window never shuffles, so the only full-shuffle job left
in the store's life is the initial ingest and each compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sinks.bucketed import write_bucketed

#: Store identity (the reference's PRIMARY KEY (id, time) —
#: wrf_data_pusher.py:268 row shape [tms_id, time, fgt, value]).
KEY_COLS = ("tms_id", "time")
#: Version column: later forecast-generation-time wins (K1's
#: ``ON DUPLICATE KEY UPDATE value=VALUES(value)`` + K3's fgt pointer).
VERSION_COL = "fgt"
#: Ingest-batch label column: every row carries the push that wrote it,
#: giving the store Delta-style time travel (``read_fact_latest
#: (as_of_batch=…)``) for free — the label is data, not layout, so the
#: bucket spec and every no-Exchange contract are untouched.
BATCH_COL = "ingest_batch"


def create_fact_store(
    spark: SparkSession,
    fact: DataFrame,
    table: str,
    num_buckets: int,
    path: str | None = None,
    batch: str = "b00000000",
) -> None:
    """Initial ingest: one full shuffle into ``num_buckets`` buckets on
    ``tms_id``, sorted by (tms_id, time) within each bucket file."""
    write_bucketed(
        fact.withColumn(BATCH_COL, F.lit(batch)), table,
        ["tms_id"], num_buckets,
        sort_cols=["tms_id", "time"], path=path,
    )


def store_bucket_count(spark: SparkSession, table: str) -> int:
    """Bucket count recorded in the catalog for ``table``."""
    for row in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if row.col_name == "Num Buckets":
            return int(row.data_type)
    raise ValueError(f"{table} is not a bucketed table")


def append_fact_rows(
    spark: SparkSession, table: str, new_rows: DataFrame, batch: str
) -> None:
    """K1 upsert, append-only: land ``new_rows`` inside the existing
    bucket layout (same key, same N — read from the catalog so a drift
    is impossible).  Cost is O(new batch): shuffle of the batch into N
    buckets, no touch of standing data.  Duplicate (tms_id, time) keys
    are resolved at read time by :func:`read_fact_latest`; re-delivery
    of an identical batch is therefore idempotent by construction.

    ``batch`` labels every row with this push (sortable labels —
    zero-padded counters or ISO timestamps — make ``as_of_batch``
    reads meaningful)."""
    n = store_bucket_count(spark, table)
    (
        new_rows.withColumn(BATCH_COL, F.lit(batch))
        .repartition(n, new_rows["tms_id"])
        .write.format("parquet")
        .mode("append")
        .bucketBy(n, "tms_id")
        .sortBy("tms_id", "time")
        .saveAsTable(table)
    )


def read_fact_latest(
    spark: SparkSession,
    table: str,
    as_of_batch: str | None = None,
    series: DataFrame | None = None,
) -> DataFrame:
    """Merge-on-read view of the store: latest fgt wins per
    (tms_id, time), equal-fgt replays resolved by the later ingest
    batch.  Zero Exchange — the window's clustering requirement
    (tms_id, time) is satisfied by the tms_id bucket partitioning and
    the as-of predicate is a plain pushed filter; plan-gated in
    tests/test_bucketed_fact.py.

    ``as_of_batch`` time-travels: the state the store had after that
    batch (rows with a later label are ignored).  History lives in the
    appends, so time travel reaches back to the last compaction —
    compacting collapses history exactly like VACUUM does.

    ``series`` (a frame with a ``tms_id`` column) prunes the scan to
    those series BEFORE the merge window — sound because the window
    partitions by ``tms_id``: dropping whole partitions commutes with
    a per-partition rank.  This is the store's serving path: a reader
    wanting 100 series out of a 100 TB store must not rank the whole
    store first.  The semi-join broadcasts (series lists are
    dim-scale) and its tms_id predicate keeps the bucketed scan's
    zero-Exchange property."""
    df = spark.table(table)
    if as_of_batch is not None:
        df = df.filter(F.col(BATCH_COL) <= as_of_batch)
    if series is not None:
        df = df.join(
            F.broadcast(series.select("tms_id").distinct()),
            on="tms_id",
            how="left_semi",
        )
    w = Window.partitionBy(*KEY_COLS).orderBy(
        F.col(VERSION_COL).desc(), F.col(BATCH_COL).desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_fgt_per_series(spark: SparkSession, table: str) -> DataFrame:
    """A6 over the store: newest forecast-generation-time per series —
    a complete aggregation directly on the bucketed scan (no
    Exchange), feeding K3's latest-fgt pointer updates."""
    return spark.table(table).groupBy("tms_id").agg(
        F.max(VERSION_COL).alias(VERSION_COL)
    )


def compact_fact_store(
    spark: SparkSession,
    src_table: str,
    dest_table: str,
    path: str | None = None,
) -> None:
    """Fold the merge-on-read backlog into a fresh one-file-per-bucket
    store (writing a NEW table: Spark refuses to overwrite a table it
    is reading, and the two-table swap keeps readers consistent —
    same pattern as rollup.compact_partials)."""
    n = store_bucket_count(spark, src_table)
    write_bucketed(
        read_fact_latest(spark, src_table), dest_table,
        ["tms_id"], n, sort_cols=["tms_id", "time"], path=path,
    )


# ---------------------------------------------------------------------------
# Bucketed OBS store — the J2/E3 counterpart of the fact store above
# (SURVEY §2.3 J2 gen_active_stations_rfields.py:203-230).  The
# reference reads observations from a MySQL table keyed
# (hash_id, time); here the same clustered-read property comes from a
# hash_id bucket layout, so the hybrid pipeline's obs-side join and
# the merge-on-read dedup window both plan with ZERO Exchange on the
# observation scan.  Observations have no fgt — corrections are
# last-push-wins, so the version is the ingest-batch label alone.

OBS_KEY_COLS = ("hash_id", "time")


def create_obs_store(
    spark: SparkSession,
    obs_data: DataFrame,
    table: str,
    num_buckets: int,
    path: str | None = None,
    batch: str = "b00000000",
) -> None:
    """Initial obs ingest: one shuffle into ``num_buckets`` buckets on
    ``hash_id``, sorted (hash_id, time) within each bucket file."""
    write_bucketed(
        obs_data.withColumn(BATCH_COL, F.lit(batch)), table,
        ["hash_id"], num_buckets,
        sort_cols=["hash_id", "time"], path=path,
    )


def append_obs_rows(
    spark: SparkSession, table: str, new_rows: DataFrame, batch: str
) -> None:
    """Obs upsert, append-only (late gauge readings, corrections):
    O(new batch), duplicates resolved at read time — the K1 cost
    profile on the observation side."""
    n = store_bucket_count(spark, table)
    (
        new_rows.withColumn(BATCH_COL, F.lit(batch))
        .repartition(n, new_rows["hash_id"])
        .write.format("parquet")
        .mode("append")
        .bucketBy(n, "hash_id")
        .sortBy("hash_id", "time")
        .saveAsTable(table)
    )


def read_obs_latest(
    spark: SparkSession, table: str, as_of_batch: str | None = None
) -> DataFrame:
    """Merge-on-read view of the obs store: the latest ingest batch
    wins per (hash_id, time).  Zero Exchange — the window's clustering
    requirement contains the ``hash_id`` bucket key (plan-gated in
    tests/test_bucketed_fact.py); ``as_of_batch`` time-travels like
    the fact store's."""
    df = spark.table(table)
    if as_of_batch is not None:
        df = df.filter(F.col(BATCH_COL) <= as_of_batch)
    w = Window.partitionBy(*OBS_KEY_COLS).orderBy(F.col(BATCH_COL).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_hybrid_from_stores(
    spark: SparkSession,
    fact_table: str,
    obs_table: str,
    runs: DataFrame,
    obs_station: DataFrame,
    grid_map: DataFrame,
    sources,
    **kwargs,
) -> DataFrame:
    """E3 hybrid comparison frame fed by BOTH bucketed stores: the
    forecast side reads the fact store's merge-on-read view (tms_id
    buckets) and the observation side the obs store's (hash_id
    buckets), so neither fact-scale scan shuffles for its dedup
    window and the dim sides ride broadcast — the standing-store
    serving shape of plans/hybrid.build_hybrid_rfield, which this
    wraps verbatim (results pinned identical to the raw-frame form in
    tests/test_bucketed_fact.py).

    The fact scan is PRUNED to the series of stations the grid map
    references (a broadcast semi-join pushed below the merge window —
    see read_fact_latest's ``series``): the hybrid products serve a
    few dozen gauge stations, and ranking the whole store to feed
    them would be the 100 TB anti-pattern.  Sound because only whole
    tms_id partitions drop, and unmapped series can never reach the
    output (fcst_long inner-joins through the grid map).

    The executed plan scans the fact store once: the forecast side is
    built once and bounds the obs side through a window over the
    union, not through a second copy of itself (pinned by
    tests/test_bucketed_fact.py)."""
    from .hybrid import build_hybrid_rfield

    mapped = runs.join(
        F.broadcast(
            grid_map.select(
                F.col("d03_station_id").alias("station_id")
            ).distinct()
        ),
        on="station_id",
        how="left_semi",
    ).select("tms_id")
    fact = read_fact_latest(spark, fact_table, series=mapped).select(
        "tms_id", "time", "value"
    )
    obs = read_obs_latest(spark, obs_table).select(
        "hash_id", "time", "value"
    )
    return build_hybrid_rfield(
        fact, runs, obs_station, obs, grid_map, sources, **kwargs
    )
