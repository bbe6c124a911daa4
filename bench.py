#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": core_total_sec, "unit": "sec",
 "queries": {core name: sec, ...}, "sf": ...,
 "extended_queries": {name: sec, ...}, "extended_total": ...,
 "grand_total": ...}

ROUND-10 STRUCTURE (judge task 3): the bench had grown to 42 rows
whose sum moved every round as new rows joined, while single-run
noise stayed at ±20-25%.  The scoreboard is now split: a FIXED
core-15 (SURVEY E1-E3 + the LLM flagships, best-of-3 minimum) is the
headline "value"; everything else is reported separately under
extended_queries.  Compare rounds on the core total — it cannot be
moved by adding rows.  r9 equivalents for the core-15 (from
BENCH_r09.json, minus the new wrf_e2_rfield_files sink row): see
BENCH_r10 notes in NEXT.md.

Each query is forced end-to-end with the noop sink (full computation,
no driver collect). The headline set spans the engine's surface: scans
+filters, shuffle aggs, broadcast joins, window functions, pivots, the
WRF pipelines, and the LLM data-pipeline operators.

CANONICAL NUMBER (round-11 rule, resolving the r10 scoreboard nit —
BENCH_r10.json said 20.67 while NEXT.md prose said 19.70 from a
different late run): the round's canonical core-15 value is the one
in the DRIVER-recorded BENCH_r{N}.json artifact, full stop.  Local
runs quoted in NEXT.md/SCALING.md are working measurements and must
be labelled "local"; when prose and artifact disagree, the artifact
wins.  The two r10 numbers differed by 4.9% — inside the noise floor
below.

NOISE FLOOR (measured round 5, identical code, consecutive runs):
totals spanned 11.9-15.4 s before the load_table memo and 9.1-12.3 s
after it — i.e. shared-machine load swings single-run totals by ±20%
and individual sub-second queries by 2x. Round 4's broad "+2.6% drift"
(15 of 21 queries slower with no code change) was this noise, not a
regression. Compare rounds on the best of several runs, and treat
per-query deltas under ~25% as unresolvable without n >= 6.

ROUND-7 DRIFT RESOLUTION (judge task 2): two consecutive REPS=6
best-of runs on the round-7 tree put the r5-identical 21-query subset
at 9.88 s and 11.18 s vs r5's 8.97 s (+10% / +25%) — the r6 "+24% at
min-of-3" drift sits inside the floor at n=6 and swings run-to-run
with no code change in the subset's plans; no subset query stayed
>1.3x on best-of. Conclusion: contention noise, not a regression.
The big mover this round was real, though: llm_curate_corpus's 8.54 s
r6 row was 75% an O(n²)-splits expression bug in dup_ngram_ratio
(fixed, see llmops/textstats.py) plus the membership-audit md5s (the
bench now runs llm_curate_pipeline, the production path): 8.54 s ->
2.36 s at the same REPS=6.

KNOWN-BENIGN LOG TAIL (round-7 root cause of the r6 "truncated
DAGScheduler stack trace"): intermittent bursts of
  ERROR DAGScheduler: Failed to update accumulator N (Unknown class)
  ... SparkException: attempted to access non-existent accumulator N
are a shutdown/cleanup race, not a correctness problem.  When AQE
re-plans (or a query finishes early via TakeOrdered/limit), the
driver abandons in-flight stages and the finished QueryExecution's
SQL-metric accumulators are unregistered by the ContextCleaner;
straggler tasks of the abandoned stage still complete and post
accumulator updates for ids that no longer exist.  DAGScheduler
catches the update failure, logs it with a stack trace, and carries
on — only UI metrics are lost; results are unaffected (all bench
queries are separately hash-verified against DuckDB).  Reproduction
is load-dependent: 736 occurrences in one r7 probe run, 0 in the
identical next run.  The `## bench rep=I query=NAME` stderr markers
let any future tail be attributed to the query that was running.
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


#: Idle-box best-of-3 minima from the round-13 builder run
#: (bench_r13.json) — the load-pollution reference (judge r13 task
#: 1): a row whose best-of time exceeds 2x this value is SUSPECT and
#: is automatically re-run; a row still >2x after the re-runs is
#: listed in suspect_rows with the loadavg it saw, and the artifact
#: self-reports publishable=false when that loadavg was elevated
#: (>= LOAD1_PUBLISH_THRESHOLD).  Rationale for
#: the threshold: a 1-minute loadavg at or above the core count means
#: runnable threads exceeded cores for a sustained window — this
#: process alone cannot hold that with sub-6-second queries, so it is
#: external multi-tenant contention, which is exactly what polluted
#: the r12 and r13 driver artifacts (judge had to re-measure both).
R13_IDLE_MINIMA: dict[str, float] = {
    "wrf_e1_push_rows": 0.712, "wrf_e3_hybrid_frame": 0.394,
    "e2_rfield_contract": 1.024, "wrf_e2_rfield_files": 1.752,
    "a1_pricing_summary": 0.675, "j3_broadcast_lookup": 0.835,
    "w3_nearest_neighbor": 0.632, "s10_window_resample": 0.517,
    "llm_dedup_exact": 0.183, "llm_minhash_lsh_pairs": 1.401,
    "llm_setsim_pairs": 5.971, "llm_curate_pipeline": 2.368,
    "llm_pq_topk": 3.111, "llm_pq_index_search": 3.153,
    "llm_incremental_neardup": 3.341,
    "q3_shipping_priority": 0.415, "j1_pivot_sources": 0.759,
    "w1_lag_diff": 0.434, "w2_latest_per_series": 0.254,
    "o1_total_order": 0.129, "llm_quality_features": 0.231,
    "llm_simhash": 0.18, "llm_cosine_topk": 0.698,
    "j6_asof_join": 0.743, "llm_dedup_clusters": 1.529,
    "llm_contamination": 1.148, "llm_seq_packing": 0.548,
    "llm_winnow_pairs": 1.922, "llm_substring_dedup": 2.129,
    "llm_semantic_dedup": 3.284, "llm_ngram_logfreq": 2.218,
    "w5_rolling_stats": 0.99, "llm_vocab_topk": 0.705,
    "a16_countmin_freq": 2.072, "a18_mergeable_rollup": 0.345,
    "a19_histograms": 0.667, "k11_snapshot_diff": 0.604,
    "a23_kmv_distinct": 0.743, "llm_repetition_signals": 1.928,
    "llm_mix_schedule": 0.278, "llm_pq_lloyd_topk": 3.874,
    "llm_opq_topk": 5.065, "w15_range_frame": 0.784,
    "w16_sliding_distinct": 0.929, "w17_sliding_distinct_kmv": 3.517,
    "llm_bpe_pair_counts": 0.906, "w6_gap_fill": 3.673,
    "llm_opq_serve": 1.193, "llm_simhash_neighbors": 3.064,
    "w18_obs_qc": 0.633, "llm_cooccurrence": 1.343,
    "llm_privacy_audit": 0.261, "llm_media_decode": 0.478,
    "llm_stupid_backoff": 3.436, "llm_dsir_weights": 3.183,
    "llm_ngram_store_topk": 0.485, "wrf_s1_ingest_full_d03": 6.072,
    "wrf_s1_ingest_full_d03_hdf5": 5.662,
    # r14 additions, measured idle this box (best-of-3, load1 1.2-1.5)
    "wrf_s1_ingest_split_d03": 0.85,
    "wrf_s1_ingest_split_d03_hdf5": 0.88,
}

#: Suspect rule + publish gate (judge r13 task 1), both documented in
#: R13_IDLE_MINIMA's comment.  Override via env for other boxes.
SUSPECT_FACTOR = 2.0
LOAD1_PUBLISH_THRESHOLD = float(
    os.environ.get("SPARK_GRAFT_LOAD1_MAX", os.cpu_count() or 32)
)
#: extra best-of passes granted to suspect rows before they publish
SUSPECT_EXTRA_REPS = 2


def _load1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # platform without getloadavg
        return -1.0


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
    load_at_best: dict[str, float] = {}

    def run_one(rep, name: str) -> None:
        print(f"## bench rep={rep} query={name}", file=sys.stderr)
        load1 = _load1()  # load BEFORE the run: the box's state, not ours
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
            load_at_best[name] = load1

    for rep in range(core_reps):
        for name in CORE:
            run_one(rep, name)
        if rep < REPS:
            for name in EXTENDED:
                run_one(rep, name)

    # LOAD-ROBUSTNESS PASS (judge r13 task 1): any row whose best-of
    # time exceeds SUSPECT_FACTOR x its idle-box r13 minimum gets
    # SUSPECT_EXTRA_REPS more attempts before publishing — the r12 and
    # r13 driver artifacts both carried multi-tenant-contention rows
    # that a judge then had to re-measure by hand.  Rows still >2x
    # after the retries are published in suspect_rows with the loadavg
    # their best rep saw; publishable=false when that loadavg was
    # elevated (>= LOAD1_PUBLISH_THRESHOLD — see R13_IDLE_MINIMA).
    def _suspects() -> list[str]:
        return [
            n for n, ref in R13_IDLE_MINIMA.items()
            if n in best and best[n] > SUSPECT_FACTOR * ref
        ]

    for extra in range(SUSPECT_EXTRA_REPS):
        sus = _suspects()
        if not sus:
            break
        print(
            f"## bench load-retry pass={extra} rows={sus} "
            f"load1={_load1()}", file=sys.stderr,
        )
        for name in sus:
            run_one(f"retry{extra}", name)

    suspect_rows = {
        n: {
            "sec": round(best[n], 3),
            "idle_ref_sec": R13_IDLE_MINIMA[n],
            "load1_at_best": load_at_best.get(n, -1.0),
        }
        for n in _suspects()
    }
    worst_suspect_load = max(
        (r["load1_at_best"] for r in suspect_rows.values()), default=0.0
    )
    publishable = worst_suspect_load < LOAD1_PUBLISH_THRESHOLD

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
                # load-robustness block (judge r13 task 1): per-row
                # 1-min loadavg sampled immediately before the rep
                # that produced each row's best time, the publish
                # gate's threshold, and the rows (if any) still >2x
                # their idle-box r13 minima after the automatic
                # retries.  publishable=false means: do not compare
                # this artifact's absolute times across rounds — a
                # suspect row's best rep started under external load.
                "query_load1_at_best": {
                    n: load_at_best.get(n, -1.0) for n in best
                },
                "load1_publish_threshold": LOAD1_PUBLISH_THRESHOLD,
                "suspect_rows": suspect_rows,
                "publishable": publishable,
                # per-query executor-CPU seconds (min across reps) from
                # the event log — VERDICT r14 item 4: wall at sf0.1 is
                # latency-bound, CPU is what transfers to 100 TB
                "cpu_sec": cpu_sec,
            }
        )
    )
    # FINAL COMPACT LINE (VERDICT r14 item 1 — bench contract repair):
    # the rich line above has grown past the driver's 2000-char tail
    # capture, which silently cost round 14 its round-over-round
    # geomean (PERF_r14 prev_bench_ok=false: BENCH_r13.json's tail
    # truncates the line's FRONT — BENCH_r13.json carries parsed=null).
    # Printing a compact record LAST guarantees any tail window ends
    # with a complete, parseable JSON line carrying the same
    # metric/value/unit/queries/sf contract.  DELIBERATELY minimal
    # (~700 chars, deterministic): the scoreboard "queries" map is the
    # pinned core-15 exactly as in the rich line, so a driver that
    # sums it still reconstructs "value"; a full per-row compact map
    # would sit at ~1.9k chars — flaky against the 2k window — and the
    # extended seconds remain available in the rich line, which the
    # driver parses from full stdout when it runs the bench itself
    # (BENCH_r14.json parsed it fine; only the cross-round tail
    # re-parse was broken).
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
        "publishable": publishable,
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
