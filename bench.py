#!/usr/bin/env python
"""Benchmark the engine's headline queries at one scale factor.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines, the full record
and then a compact one, so that a tail capture always ends with a
parseable line:
{"metric": ..., "value": core_total_sec, "unit": "sec",
 "queries": {core name: sec, ...}, "sf": ...,
 "extended_queries": {name: sec, ...}, "extended_total": ...,
 "grand_total": ..., "calibration": {...}, "cpu_sec": {...}}

"value" sums the fixed CORE rows (the WRF pipelines E1-E3 plus the LLM
flagships), each the minimum over at least 3 passes; every other row
is reported under extended_queries.  Each query is forced end to end
with the noop sink (sink rows write real files).  The calibration row
times two fixed workloads that never change with engine code, so runs
can divide out machine drift; cpu_sec is each query's executor CPU
from the event log.  A performance claim is an interleaved A/B of
perfbench (BENCHMARK.json), not a comparison of two bench artifacts.

Each timed run writes a ``## bench rep=I query=NAME`` marker to
stderr, so a log tail can be attributed to the query that was running.
Bursts of ``ERROR DAGScheduler: Failed to update accumulator N`` are a
cleanup race (straggler tasks of a stage AQE abandoned report metrics
for a finished query); only UI metrics are lost, results are not.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from curw_wrf_data_pusher_spark.queries import (  # noqa: E402
    QUERIES,
    analytics,
    expressions,
    llm_ann,
    llm_curation,
    llm_dedup,
    llm_filters,
    llm_lm,
    relational,
    sketches,
    timeseries_sql,
)

#: the split query modules (former generic.py + llm.py monoliths) —
#: searched by _resolve for headline names gated out of the registry
_QUERY_MODULES = (
    relational, expressions, analytics, sketches, timeseries_sql,
    llm_dedup, llm_curation, llm_filters, llm_ann, llm_lm,
)
from curw_wrf_data_pusher_spark.session import get_spark  # noqa: E402

# Per-query repetitions; the reported time is the MINIMUM across reps,
# so the scoreboard is noise-robust by construction (see NOISE FLOOR
# above — single-run totals swing ±20% on a shared machine).
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

HEADLINE = [
    "a1_pricing_summary",
    "q3_shipping_priority",
    "j3_broadcast_lookup",
    "j1_pivot_sources",
    "w1_lag_diff",
    "w2_latest_per_series",
    "w3_nearest_neighbor",
    "o1_total_order",
    "wrf_e1_push_rows",
    "wrf_e3_hybrid_frame",
    "llm_dedup_exact",
    "llm_quality_features",
    "llm_simhash",
    "llm_minhash_lsh_pairs",
    "llm_cosine_topk",
    "j6_asof_join",
    "s10_window_resample",
    "llm_dedup_clusters",
    "e2_rfield_contract",
    "llm_contamination",
    "llm_seq_packing",
    # added round 6 (NEW vs the r1-r5 21-query set — compare totals
    # accordingly): the composed 5-stage curation pipeline row, plus
    # the substring-granular and embedding-cluster dedup modalities.
    # Round 7 (judge task 3): the curate row now benches the
    # PRODUCTION path (final curated frame, one lazy plan) instead of
    # the audit form — r6's 8.54 s measured llm_curate_corpus's
    # per-stage membership md5 (6 global id sorts), a correctness-row
    # artifact, not pipeline work.  The audit form remains the
    # registered/oracle row.
    "llm_curate_pipeline",
    "llm_winnow_pairs",
    "llm_substring_dedup",
    "llm_semantic_dedup",
    "llm_ngram_logfreq",
    "w5_rolling_stats",
    "llm_vocab_topk",
    # added round 6 session 2 (NEW rows — compare totals accordingly):
    # the exact prefix-filtered set-similarity join, plus the sketch /
    # incremental / diff analytics tier
    "llm_setsim_pairs",
    "a16_countmin_freq",
    "a18_mergeable_rollup",
    "a19_histograms",
    "k11_snapshot_diff",
    # added round 7 (NEW rows — compare totals accordingly): PQ ANN,
    # KMV sketch, Gopher repetition signals, mix scheduler
    "llm_pq_topk",
    "a23_kmv_distinct",
    "llm_repetition_signals",
    "llm_mix_schedule",
    # added round 9 (NEW rows — compare totals accordingly): the
    # production PQ quantizer — 3 Lloyd sweeps (arrow encode + grouped
    # agg each) before the ADC scan (recall numbers in SCALING.md) —
    # and the persisted-index SERVING scan (the first rep builds the
    # index into a per-sf temp dir; best-of-REPS reports the standing-
    # index query cost: codebook load + compressed codes scan + ADC)
    "llm_pq_lloyd_topk",
    "llm_pq_index_search",
    # added round 10 (NEW row): rotation-optimized PQ — n_iters x
    # (Lloyd sweep + Procrustes pass) index build + ADC serve
    "llm_opq_topk",
    # added round 9 session 2 (NEW row): cross-batch near-dedup probe —
    # batch signatures (map-only) + store-bucket equi-join + estimated-
    # Jaccard verify + in-batch LSH, the incremental ingest hot path
    "llm_incremental_neardup",
    # added round 9 session 3 (NEW rows): the RANGE-frame window class
    # (trailing/leading hour aggregates + sliding distinct counts) —
    # previously unbenched
    "w15_range_frame",
    "w16_sliding_distinct",
    # added round 10 (NEW rows): the KMV sliding-distinct sketch twin
    # and the BPE pair-counting corpus pass
    "w17_sliding_distinct_kmv",
    "llm_bpe_pair_counts",
    # added round 11 (NEW row): dense-grid gap fill — benched so the
    # O(n^2)->O(n) forward-neighbor frame rewrite (round-10 judge
    # finding: 37.7 s at sf0.1 under the UnboundedFollowing frame)
    # stays measured; the descending-window form runs in the <1 s
    # band of its window siblings
    "w6_gap_fill",
    # added round 11 (NEW rows): OPQ SERVING with the pinned index
    # (exact-fold rotate + arrow encode + ADC — the registered,
    # oracle-gated face of the OPQ family; llm_opq_topk above is the
    # train+serve build cost) and the rewritten banded SimHash
    # neighbour stats (numpy popcount kernel; was 16.3 s at sf0.1
    # before the round-11 rewrite)
    "llm_opq_serve",
    "llm_simhash_neighbors",
    # added round 11 (NEW rows): obs QC flags, GloVe co-occurrence,
    # privacy audit — the late round-11 operator families
    "w18_obs_qc",
    "llm_cooccurrence",
    "llm_privacy_audit",
    # added round 12 (NEW rows): real media decode, stupid-backoff LM
    # scoring, DSIR importance weights — the late round-12 families
    "llm_media_decode",
    "llm_stupid_backoff",
    "llm_dsir_weights",
    # count-store merge-on-read serving (build cached per sf/mtime)
    "llm_ngram_store_topk",
    # added round 14 (NEW rows — compare totals accordingly): the six
    # fifth-rotation promotions that had no bench row yet join the
    # measured set (their siblings llm_ngram_logfreq / llm_vocab_topk
    # / llm_mix_schedule were already here)
    "llm_normalize_text",
    "llm_temperature_mix",
    "llm_train_test_split",
    "llm_source_cap",
    "llm_setsim_cross",
    "llm_token_encode",
]


def _resolve(name):
    """Headline entries stay name-stable across rounds even when a
    query is registry-gated through a compound row: fall back to the
    plain (unregistered) module function."""
    if name in QUERIES:
        return QUERIES[name]
    for mod in _QUERY_MODULES:
        fn = getattr(mod, name, None)
        if fn is not None:
            return fn
    raise KeyError(name)


# CORE: the pinned headline subset — the ~15 rows that map straight to
# SURVEY E1-E3 plus the LLM-pipeline flagships.  This list is FIXED
# (round 10): cross-round comparisons use the top-level "value"
# (core total, best-of-3) so the scoreboard no longer moves when new
# rows join the bench.  The file-emission row (wrf_e2_rfield_files)
# writes REAL files — xy.csv through the single-partition ordered
# write and one value file per timestep through the partitioned
# parallel writer (sinks/rfield_files.py) — because at 100x scale the
# sink, not the frame, is the E2 bottleneck candidate.
CORE = [
    "wrf_e1_push_rows",
    "wrf_e3_hybrid_frame",
    "e2_rfield_contract",
    "wrf_e2_rfield_files",
    "a1_pricing_summary",
    "j3_broadcast_lookup",
    "w3_nearest_neighbor",
    "s10_window_resample",
    "llm_dedup_exact",
    "llm_minhash_lsh_pairs",
    "llm_setsim_pairs",
    "llm_curate_pipeline",
    "llm_pq_topk",
    "llm_pq_index_search",
    "llm_incremental_neardup",
]

#: Everything else stays measured, reported under extended_queries —
#: new rows land there so the core scoreboard stays comparable.
EXTENDED = [n for n in HEADLINE if n not in CORE]


def _bench_rfield_files(spark, sf_dir: str) -> None:
    """E2 end-to-end file emission: the dense rfield frame → xy.csv +
    one ordered value file per timestep (K4/K5), written to a temp
    dir.  Timed INCLUSIVE of the filesystem tail (part-file merge),
    which is what dominates at many-timestep scale."""
    import shutil
    import tempfile

    from curw_wrf_data_pusher_spark.sinks.rfield_files import (
        write_rfield_files,
    )

    frame = _resolve("e2_rfield_contract")(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="bench-rfield-")
    try:
        write_rfield_files(
            frame, out, group_cols=["file_key"], value_col="value"
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _build_full_d03(path: str, writer_factory) -> None:
    """Shared synthetic full-size d03 fixture (289 x 99 x 162 =
    4,634,118 cells, BASELINE rows 1-3) — one builder so the classic
    and HDF5 ingest rows measure IDENTICAL data."""
    import os

    import numpy as np

    os.makedirs(os.path.dirname(path), exist_ok=True)
    t_n, h, w_n = 289, 99, 162
    rng = np.random.default_rng(11)
    w = writer_factory(path)
    w.createDimension("Time", None)
    w.createDimension("south_north", h)
    w.createDimension("west_east", w_n)
    xt = w.createVariable("XTIME", "i8", ("Time",))
    xt[:] = (15 * (np.arange(t_n, dtype="i8") + 1))
    xt.description = "minutes since 2024-06-01 00:00:00"
    lats = np.linspace(5.73, 10.06, h).astype("f4")
    lons = np.linspace(79.53, 82.19, w_n).astype("f4")
    for name, arr in (
        ("XLAT", np.broadcast_to(
            lats[None, :, None], (t_n, h, w_n)).copy()),
        ("XLONG", np.broadcast_to(
            lons[None, None, :], (t_n, h, w_n)).copy()),
        ("RAINNC", np.cumsum(
            rng.uniform(0, 3, size=(t_n, h, w_n)).astype("f4"),
            axis=0)),
    ):
        v = w.createVariable(
            name, "f4", ("Time", "south_north", "west_east")
        )
        v[:] = arr
    w.close()


def _ingest_full_d03(spark, cache_name: str, writer_factory) -> None:
    """Round-15 change (VERDICT r14 item 3, guide §6 I/O parallelism):
    the full-file rows now RIDE THE SPLIT-SLAB READER.  Until r14 they
    decoded each file in ONE task via ``read_wrf_grid`` — at 289
    timesteps that pinned a single core (and one Python worker
    shipping every row) for the whole 4.6M-cell decode, which made the
    pair the largest bench mass (6.8 + 4.0 s) measuring nothing the
    split rows don't.  The split reader is row-identical (pinned by
    tests/test_netcdf_split.py equality against read_wrf_grid); these
    rows keep their names and their meaning — full operational-size
    ingest through the pure-Python codecs — with the production task
    layout.  ``splits_per_file=None`` derives the slab count from
    ``defaultParallelism`` (honours $SPARK_GRAFT_CPUS, so the
    driver's low-core scaling run measures a real layout, not a
    32-slab constant); the _split twins keep their pinned 32."""
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), cache_name)
    f = os.path.join(base, "wrfX", "d03_RAINNC.nc")
    if not os.path.exists(f):
        _build_full_d03(f, writer_factory)

    from curw_wrf_data_pusher_spark.sources.netcdf import (
        read_wrf_grid_split,
    )

    df = read_wrf_grid_split(
        spark, base,
        bbox={"lat_min": -90, "lat_max": 90,
              "lon_min": -180, "lon_max": 180},
        splits_per_file=None,
    )
    df.write.format("noop").mode("overwrite").save()


def _bench_s1_ingest_full_d03(spark, sf_dir: str) -> None:
    """S1 ingest at the reference's FULL operational size through the
    pure-numpy CLASSIC codec (first rep builds the cached file;
    best-of-REPS reports the standing ingest cost)."""
    from curw_wrf_data_pusher_spark.sources.netcdf3 import NetCDF3Writer

    _ingest_full_d03(spark, "spark_graft_d03_full", NetCDF3Writer)


def _bench_s1_ingest_full_d03_hdf5(spark, sf_dir: str) -> None:
    """The HDF5 twin: the SAME grid stored netCDF-4-style (chunked
    slabs, shuffle+deflate via NC4Writer), decoded through the pure
    HDF5 reader — measures the zlib-inflate decode path the classic
    row doesn't touch."""
    from curw_wrf_data_pusher_spark.sources.hdf5 import create_nc4

    _ingest_full_d03(spark, "spark_graft_d03_h5", create_nc4)


def _ingest_split_d03(spark, cache_name: str, writer_factory) -> None:
    import os
    import tempfile

    base = os.path.join(tempfile.gettempdir(), cache_name)
    f = os.path.join(base, "wrfX", "d03_RAINNC.nc")
    if not os.path.exists(f):
        _build_full_d03(f, writer_factory)

    from curw_wrf_data_pusher_spark.sources.netcdf import (
        read_wrf_grid_split,
    )

    df = read_wrf_grid_split(
        spark, base,
        bbox={"lat_min": -90, "lat_max": 90,
              "lon_min": -180, "lon_max": 180},
        splits_per_file=32,
    )
    df.write.format("noop").mode("overwrite").save()


def _bench_s1_ingest_split_d03(spark, sf_dir: str) -> None:
    """Intra-file parallel twin of wrf_s1_ingest_full_d03: 32 tasks
    per file, each decoding one t-slab through the codecs' lazy
    hyperslab path (measured r14: 8.3 s -> 0.9 s on this box — the
    single-task row's intra-day single-core sensitivity is gone
    because no task carries the whole file)."""
    from curw_wrf_data_pusher_spark.sources.netcdf3 import NetCDF3Writer

    _ingest_split_d03(spark, "spark_graft_d03_full", NetCDF3Writer)


def _bench_s1_ingest_split_d03_hdf5(spark, sf_dir: str) -> None:
    """HDF5 flavor of the split ingest: each slab inflates ONLY its
    own (1, h, w) chunks — O(slab) zlib, not O(file)."""
    from curw_wrf_data_pusher_spark.sources.hdf5 import create_nc4

    _ingest_split_d03(spark, "spark_graft_d03_h5", create_nc4)


#: terminal-sink rows: the callable performs (and is timed over) its
#: own write instead of the noop sink.
SINKS = {
    "wrf_e2_rfield_files": _bench_rfield_files,
    "wrf_s1_ingest_full_d03": _bench_s1_ingest_full_d03,
    "wrf_s1_ingest_full_d03_hdf5": _bench_s1_ingest_full_d03_hdf5,
    "wrf_s1_ingest_split_d03": _bench_s1_ingest_split_d03,
    "wrf_s1_ingest_split_d03_hdf5": _bench_s1_ingest_split_d03_hdf5,
}

EXTENDED.append("wrf_s1_ingest_full_d03")
EXTENDED.append("wrf_s1_ingest_full_d03_hdf5")
EXTENDED.append("wrf_s1_ingest_split_d03")
EXTENDED.append("wrf_s1_ingest_split_d03_hdf5")


def _parse_cpu_per_query(log_dir: str) -> dict[str, float]:
    """Per-query executor-CPU seconds from the Spark event log
    (round-15, VERDICT r14 item 4): wall time at sf0.1 is stage-launch
    bound (the r14 scaling block showed every headline 8-core/32-core
    ratio ≈ 1), so CPU-bound optimization wins are invisible in wall
    seconds — the event log's ``Executor CPU Time`` is the signal that
    transfers to the 100 TB regime.  Jobs are labelled
    ``bench:<name>:rep=<r>`` by ``run_one``; a query's published value
    is the MINIMUM across reps of its per-rep CPU total (same best-of
    convention as the wall numbers).  Pure measurement addition — the
    timed action and the wall methodology are unchanged."""
    import glob
    from collections import defaultdict

    stage_to_label: dict[int, str] = {}
    per_rep: dict[tuple[str, str], float] = defaultdict(float)
    paths = [
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if not os.path.isdir(p) and "appstatus" not in p
    ]
    for path in paths:
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_to_label[sid] = label
                elif k == "SparkListenerTaskEnd":
                    label = stage_to_label.get(ev.get("Stage ID"), "")
                    if not label.startswith("bench:"):
                        continue
                    _, name, rep = label.split(":", 2)
                    m = ev.get("Task Metrics") or {}
                    per_rep[(name, rep)] += (
                        m.get("Executor CPU Time", 0) / 1e9
                    )
    best: dict[str, float] = {}
    for (name, _rep), cpu in per_rep.items():
        if name not in best or cpu < best[name]:
            best[name] = cpu
    return {n: round(v, 3) for n, v in best.items()}


def _calibration(spark) -> dict[str, float]:
    """Fixed machine-speed microbenchmarks, best-of-3 — CONSTANT
    workloads that never change with engine code, so ratios between
    runs can divide machine drift out.  Two axes:
    - spark_xxhash64_200m_rows_sec: 200 M-row JVM-side hash+sum on
      ``defaultParallelism`` partitions — whole-stage-codegen
      throughput at the session's own parallelism;
    - python_md5_64mib_sec: single-thread CPython md5 over 64 MiB —
      single-core speed (Arrow/driver-side work scales with this)."""
    import hashlib

    n_parts = spark.sparkContext.defaultParallelism
    best_j = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        # bit_xor, not sum: xxhash64 spans the full long range and a
        # 200M-row SUM overflows BIGINT (hard error under ANSI mode)
        spark.range(0, 200_000_000, 1, n_parts).selectExpr(
            "bit_xor(xxhash64(id)) as s"
        ).write.format("noop").mode("overwrite").save()
        best_j = min(best_j, time.perf_counter() - t0)
    blob = b"\x5a" * (8 << 20)
    best_p = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(8):
            hashlib.md5(blob).hexdigest()
        best_p = min(best_p, time.perf_counter() - t0)
    return {
        "spark_xxhash64_200m_rows_sec": round(best_j, 3),
        "python_md5_64mib_sec": round(best_p, 3),
    }


def main() -> None:
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # event log for the per-query executor-CPU block (measurement-only
    # addition; see _parse_cpu_per_query) — negligible driver-side cost
    evlog_dir = tempfile.mkdtemp(prefix="bench-evlog-")
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evlog_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )

    # untimed warmup: JVM/codegen/parquet-reader init shouldn't be
    # attributed to whichever query happens to run first.
    QUERIES["a1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # fixed machine-speed row FIRST (after JVM warmup, before the
    # passes): the box's speed, not the code's
    calibration = _calibration(spark)

    # best-of-REPS with PASS-LEVEL repetition: the whole list runs
    # REPS times and each query keeps its minimum across passes.
    # Consecutive per-query reps share a transient-contention window (a
    # one-off 42 s total was traced to exactly that); spreading a
    # query's reps minutes apart decorrelates them at identical total
    # cost.  CORE rows run at least 3 passes regardless of
    # SPARK_GRAFT_BENCH_REPS so the pinned scoreboard is always
    # best-of-3; EXTENDED rows run REPS passes.
    core_reps = max(3, REPS)
    best: dict[str, float] = {}

    def run_one(rep, name: str) -> None:
        print(f"## bench rep={rep} query={name}", file=sys.stderr)
        spark.sparkContext.setJobDescription(f"bench:{name}:rep={rep}")
        t0 = time.perf_counter()
        if name in SINKS:
            SINKS[name](spark, sf_dir)
        else:
            df = _resolve(name)(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        if name not in best or dt < best[name]:
            best[name] = dt

    for rep in range(core_reps):
        for name in CORE:
            run_one(rep, name)
        if rep < REPS:
            for name in EXTENDED:
                run_one(rep, name)

    # flush + parse the event log for per-query executor-CPU (the
    # sf0.1 wall numbers are latency-bound; CPU is the 100 TB signal)
    spark.stop()
    time.sleep(1.0)
    try:
        cpu_sec = _parse_cpu_per_query(evlog_dir)
    except Exception:  # measurement add-on must never fail the bench
        cpu_sec = {}

    core_t = {n: round(best[n], 3) for n in CORE}
    ext_t = {n: round(best[n], 3) for n in EXTENDED}
    core_total = round(sum(core_t.values()), 3)
    ext_total = round(sum(ext_t.values()), 3)
    print(
        json.dumps(
            {
                "metric": (
                    "core-15 headline wall time "
                    "(best-of-%d, SURVEY E1-E3 + LLM flagships)"
                    % core_reps
                ),
                "value": core_total,
                "unit": "sec",
                "queries": core_t,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "extended_queries": ext_t,
                "extended_total": ext_total,
                "grand_total": round(core_total + ext_total, 3),
                "calibration": calibration,
                # per-query executor-CPU seconds (min across reps) from
                # the event log: wall at sf0.1 is latency-bound
                "cpu_sec": cpu_sec,
            }
        )
    )
    # compact record LAST: the full line outgrows a 2000-char tail
    # capture, so any tail window still ends with a complete JSON line
    # carrying metric/value/unit/queries/sf (~700 chars; the extended
    # seconds stay in the full line)
    compact = {
        "metric": (
            "core-15 headline wall time "
            "(best-of-%d, SURVEY E1-E3 + LLM flagships)" % core_reps
        ),
        "value": core_total,
        "unit": "sec",
        "queries": core_t,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extended_total": ext_total,
        "grand_total": round(core_total + ext_total, 3),
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
