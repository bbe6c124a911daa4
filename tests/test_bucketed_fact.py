"""Bucketed fact-store lifecycle (plans/bucketed_lake.py): K1 upsert
semantics on an append-only bucket layout, with the no-Exchange plan
contracts that make the layout worth its ingest shuffle at 100 TB."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
    append_fact_rows,
    compact_fact_store,
    create_fact_store,
    latest_fgt_per_series,
    read_fact_latest,
    store_bucket_count,
)
from curw_wrf_data_pusher_spark.sinks.bucketed import (
    drop_bucketed,
    write_bucketed,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _facts(spark, fgt: str, tms_ids, times):
    rows = [
        (t, f"2024-01-01 {h:02d}:00:00", fgt, float(t * 100 + h))
        for t in tms_ids
        for h in times
    ]
    return spark.createDataFrame(
        rows, "tms_id INT, time STRING, fgt STRING, value DOUBLE"
    ).select(
        "tms_id",
        F.to_timestamp("time").alias("time"),
        F.to_timestamp("fgt").alias("fgt"),
        "value",
    )


@pytest.fixture()
def store(spark, tmp_path):
    table = "t_fact_store"
    create_fact_store(
        spark,
        _facts(spark, "2024-01-01 00:00:00", range(20), range(6)),
        table,
        num_buckets=4,
        path=str(tmp_path / "fact"),
    )
    yield table
    drop_bucketed(spark, table)


def test_append_preserves_bucket_spec_and_upsert_wins(spark, store):
    assert store_bucket_count(spark, store) == 4
    # second push: same keys for tms 0-9 at a newer fgt, new values
    newer = _facts(spark, "2024-01-01 06:00:00", range(10), range(6)) \
        .withColumn("value", F.col("value") + 0.5)
    append_fact_rows(spark, store, newer, batch="b00000001")
    assert store_bucket_count(spark, store) == 4

    latest = read_fact_latest(spark, store)
    # key set unchanged: 20 series × 6 instants
    assert latest.count() == 120
    # updated series carry the newer push's values, others the original
    got = {
        (r.tms_id, r.time.hour): r.value
        for r in latest.collect()
    }
    for t in range(20):
        for h in range(6):
            want = t * 100 + h + (0.5 if t < 10 else 0.0)
            assert got[(t, h)] == want, (t, h)


def test_redelivery_is_idempotent(spark, store):
    batch = _facts(spark, "2024-01-01 06:00:00", range(5), range(6))
    append_fact_rows(spark, store, batch, batch="b00000001")
    once = sorted(map(tuple, read_fact_latest(spark, store).collect()))
    # redelivery of the same push under the same label
    append_fact_rows(spark, store, batch, batch="b00000001")
    twice = sorted(map(tuple, read_fact_latest(spark, store).collect()))
    assert once == twice


def test_merge_on_read_has_no_exchange(spark, store):
    append_fact_rows(
        spark, store,
        _facts(spark, "2024-01-01 06:00:00", range(10), range(6)),
        batch="b00000001",
    )
    plan = _plan(read_fact_latest(spark, store))
    # the (tms_id, time) window clustering is satisfied by the tms_id
    # bucketing: Sort yes (in-partition), Exchange no
    assert "Window" in plan
    assert "Exchange" not in plan, plan


def test_latest_fgt_per_series_has_no_exchange(spark, store):
    df = latest_fgt_per_series(spark, store)
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert df.count() == 20


def test_store_join_with_cobucketed_dim_has_no_exchange(
    spark, store, tmp_path
):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        runs = spark.createDataFrame(
            [(t, f"station_{t % 7}") for t in range(20)],
            "tms_id INT, station STRING",
        )
        write_bucketed(
            runs, "t_fact_runs", ["tms_id"], 4,
            path=str(tmp_path / "runs"),
        )
        joined = read_fact_latest(spark, store).join(
            spark.table("t_fact_runs"), "tms_id"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 120
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        drop_bucketed(spark, "t_fact_runs")


def test_compact_folds_to_one_file_per_bucket(spark, store, tmp_path):
    append_fact_rows(
        spark, store,
        _facts(spark, "2024-01-01 06:00:00", range(20), range(6)),
        batch="b00000001",
    )
    append_fact_rows(
        spark, store,
        _facts(spark, "2024-01-01 12:00:00", range(20), range(6)),
        batch="b00000002",
    )
    before = sorted(map(tuple, read_fact_latest(spark, store).collect()))

    dest_path = str(tmp_path / "fact_c")
    try:
        compact_fact_store(spark, store, "t_fact_compact", path=dest_path)
        files = [
            f for f in os.listdir(dest_path)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        assert len(files) == 4  # one file per bucket again
        after = sorted(
            map(tuple, spark.table("t_fact_compact").collect())
        )
        assert after == before
        # compacted store needs no merge window at all, but the
        # merge-on-read view over it stays Exchange-free too
        plan = _plan(read_fact_latest(spark, "t_fact_compact"))
        assert "Exchange" not in plan, plan
    finally:
        drop_bucketed(spark, "t_fact_compact")


def test_time_travel_reads_prior_store_states(spark, store):
    # push 1 updates tms 0-4, push 2 updates tms 0-1 again
    append_fact_rows(
        spark, store,
        _facts(spark, "2024-01-01 06:00:00", range(5), range(6))
        .withColumn("value", F.col("value") + 0.25),
        batch="b00000001",
    )
    append_fact_rows(
        spark, store,
        _facts(spark, "2024-01-01 12:00:00", range(2), range(6))
        .withColumn("value", F.col("value") + 0.75),
        batch="b00000002",
    )

    def val(df, t, h):
        return {(r.tms_id, r.time.hour): r.value
                for r in df.collect()}[(t, h)]

    asof0 = read_fact_latest(spark, store, as_of_batch="b00000000")
    asof1 = read_fact_latest(spark, store, as_of_batch="b00000001")
    head = read_fact_latest(spark, store)
    assert asof0.count() == asof1.count() == head.count() == 120
    # initial state: no updates visible
    assert val(asof0, 0, 3) == 3.0
    # after push 1: +0.25 on tms 0-4, push 2 invisible
    assert val(asof1, 0, 3) == 3.25 and val(asof1, 4, 3) == 403.25
    # head: push 2 wins on tms 0-1, push 1 still on tms 2-4
    assert val(head, 0, 3) == 3.75 and val(head, 4, 3) == 403.25
    # the as-of read keeps the no-Exchange contract (plain pushed
    # filter above the bucketed scan)
    plan = _plan(asof1)
    assert "Exchange" not in plan, plan


def test_e1_push_lands_in_bucketed_store(spark, tmp_path):
    """End-to-end: the E1 daily push (push_wrf_grid) writes straight
    into the bucketed fact store; a second run at a later fgt upserts
    via append + merge-on-read (the string minute form sorts
    lexicographically = chronologically), still with zero Exchange."""
    from curw_wrf_data_pusher_spark.plans.config import WrfConfig
    from curw_wrf_data_pusher_spark.plans.wrf_push import push_wrf_grid

    from .wrf_fixture import EPOCH_STR, FGT_UTC, make_grid_pdf

    cfg = WrfConfig.from_dict({
        "model": "WRF", "version": "v4", "wrf_type": "dwrf",
        "gfs_run": "d0", "gfs_data_hour": "18",
        "wrf_systems": "A,C", "unit": "mm",
        "unit_type": "Accumulative", "variable": "Precipitation",
        "sim_tag": "evening_18:00",
    })
    base = spark.createDataFrame(make_grid_pdf()) \
        .withColumn("source_file", F.lit("fixture.nc")) \
        .withColumn("epoch_str", F.lit(EPOCH_STR))
    g1 = base.withColumn("fgt_utc", F.lit(FGT_UTC).cast("timestamp"))
    fact1, _ = push_wrf_grid(g1, cfg)
    table = "t_e1_store"
    create_fact_store(spark, fact1, table, num_buckets=4,
                      path=str(tmp_path / "e1"), batch="b00000000")
    try:
        n_keys = read_fact_latest(spark, table).count()
        assert n_keys == fact1.count()

        # same grid re-pushed 6 h later: every series re-lands at a
        # newer fgt — the K1 re-push the reference performs daily
        g2 = base.withColumn(
            "fgt_utc",
            (F.lit(FGT_UTC).cast("timestamp")
             + F.expr("INTERVAL 6 HOURS")),
        )
        fact2, _ = push_wrf_grid(g2, cfg)
        append_fact_rows(spark, table, fact2, batch="b00000001")

        latest = read_fact_latest(spark, table)
        assert latest.count() == n_keys          # same key set
        fgts = latest.select("fgt").distinct().collect()
        newest = {r.fgt for r in
                  fact2.select("fgt").distinct().collect()}
        assert {r.fgt for r in fgts} == newest   # newer push wins
        assert "Exchange" not in _plan(latest)
    finally:
        drop_bucketed(spark, table)


def _obs_world(spark):
    """The tiny F4-F6 hybrid world from test_rfields_and_hybrid,
    rebuilt here with an fgt column on fact (the store schema)."""
    times = [f"2024-06-01 0{h}:00:00" for h in range(4)]
    runs = spark.createDataFrame(
        [("a1", "tag", 101, "WRF_A", "f1"),
         ("a2", "tag", 101, "WRF_A", "f2"),
         ("b1", "tag", 101, "WRF_C", "f1"),
         ("a3", "tag", 102, "WRF_A", "f2"),
         ("b2", "tag", 102, "WRF_C", "f2")],
        "tms_id string, sim_tag string, station_id long, source string,"
        " fgt string",
    )
    fact_rows = []
    for tms, base in [("a1", 99.0), ("a2", 1.0), ("b1", 2.0),
                      ("a3", 3.0), ("b2", 4.0)]:
        for i, t in enumerate(times):
            fact_rows.append((tms, t, "2024-06-01 00:00:00", base + i))
    fact_rows = [
        r for r in fact_rows if not (r[0] == "a2" and r[1] == times[3])
    ]
    fact = spark.createDataFrame(
        fact_rows, "tms_id string, time string, fgt string, value double"
    )
    obs_station = spark.createDataFrame(
        [(201, "h201", 79.9, 6.9, "2024-06-01 00:00:00"),
         (202, "h202", 80.1, 7.1, "2024-06-01 00:00:00")],
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
    return fact, runs, obs_station, obs_data, grid_map


def test_obs_store_merge_on_read_no_exchange_and_correction_wins(
    spark, tmp_path
):
    from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
        append_obs_rows,
        create_obs_store,
        read_obs_latest,
    )

    _, _, _, obs_data, _ = _obs_world(spark)
    table = "t_obs_store"
    try:
        create_obs_store(
            spark, obs_data, table, num_buckets=4,
            path=str(tmp_path / "obs"),
        )
        # a correction re-push for one reading: later batch wins
        fix = spark.createDataFrame(
            [("h201", "2024-06-01 01:00:00", 99.5)],
            "hash_id string, time string, value double",
        )
        append_obs_rows(spark, table, fix, batch="b00000001")
        latest = read_obs_latest(spark, table)
        plan = _plan(latest)
        assert "Window" in plan and "Exchange" not in plan, plan
        got = {(r.hash_id, r.time): r.value for r in latest.collect()}
        assert got[("h201", "2024-06-01 01:00:00")] == 99.5
        assert len(got) == 8
        # redelivery of the same correction batch is idempotent
        append_obs_rows(spark, table, fix, batch="b00000001")
        assert read_obs_latest(spark, table).count() == 8
        # time travel: before the correction
        asof = read_obs_latest(spark, table, as_of_batch="b00000000")
        got0 = {(r.hash_id, r.time): r.value for r in asof.collect()}
        assert got0[("h201", "2024-06-01 01:00:00")] == 11.0
    finally:
        drop_bucketed(spark, table)


def test_hybrid_from_stores_matches_raw_frames(spark, tmp_path):
    """E3 fed by BOTH bucketed stores must equal the raw-frame form
    row-for-row — the standing-store serving shape of the hybrid
    pipeline."""
    from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
        build_hybrid_from_stores,
        create_obs_store,
    )
    from curw_wrf_data_pusher_spark.plans.hybrid import (
        build_hybrid_rfield,
    )

    fact, runs, obs_station, obs_data, grid_map = _obs_world(spark)
    ft, ot = "t_hyb_fact", "t_hyb_obs"
    try:
        create_fact_store(
            spark, fact, ft, num_buckets=4,
            path=str(tmp_path / "hf"),
        )
        create_obs_store(
            spark, obs_data, ot, num_buckets=4,
            path=str(tmp_path / "ho"),
        )
        want = sorted(
            map(tuple, build_hybrid_rfield(
                fact.select("tms_id", "time", "value"), runs,
                obs_station, obs_data, grid_map,
                sources=["WRF_A", "WRF_C"],
            ).collect())
        )
        got = sorted(
            map(tuple, build_hybrid_from_stores(
                spark, ft, ot, runs, obs_station, grid_map,
                sources=["WRF_A", "WRF_C"],
            ).collect())
        )
        assert got == want and len(got) > 0
    finally:
        drop_bucketed(spark, ft)
        drop_bucketed(spark, ot)


def _fact_scans(plan, table: str) -> int:
    """FileSourceScanExec nodes reading ``table`` in an executed plan,
    walking into the AQE final plan, its query stages and subqueries
    (a reused exchange is not a second scan)."""

    def seq(xs):
        it = xs.iterator()
        while it.hasNext():
            yield it.next()

    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids = [*seq(plan.children()), *seq(plan.subqueries())]
    own = name == "FileSourceScanExec" and table in plan.nodeName()
    return own + sum(_fact_scans(k, table) for k in kids)


def test_hybrid_from_stores_scans_fact_once(spark, tmp_path):
    """The forecast side of the store-served hybrid (A6 window, grid-map
    semi-join, pruned merge-on-read fact scan) runs once: the obs start
    bound is a window over the union, not a second copy of that side."""
    from curw_wrf_data_pusher_spark.plans.bucketed_lake import (
        build_hybrid_from_stores,
        create_obs_store,
    )

    fact, runs, obs_station, obs_data, grid_map = _obs_world(spark)
    ft, ot = "t_scan_fact", "t_scan_obs"
    try:
        create_fact_store(
            spark, fact, ft, num_buckets=4, path=str(tmp_path / "sf"),
        )
        create_obs_store(
            spark, obs_data, ot, num_buckets=4, path=str(tmp_path / "so"),
        )
        wide = build_hybrid_from_stores(
            spark, ft, ot, runs, obs_station, grid_map,
            sources=["WRF_A", "WRF_C"],
        )
        assert wide.collect()
        plan = wide._jdf.queryExecution().executedPlan()
        assert _fact_scans(plan, ft) == 1, plan.toString()
    finally:
        drop_bucketed(spark, ft)
        drop_bucketed(spark, ot)
