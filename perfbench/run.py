#!/usr/bin/env python3
"""Benchmark of the WRF cron day (E1 push, E2/E3 serve) and the LLM
near-duplicate family, one closed-loop client per workload.

    python3 perfbench/run.py --driver-memory 3g --partitions-per-core 2 \\
        --workload wrf-push --seed 1 --seconds 1 --trace 0

Set-up (session, seeded fixtures and store build, repeated where that
is cheap, warm-up) is timed as ``setup_s``.  The timed phase then runs
passes of the workload's jobs, one at a time, until ``--seconds`` have
elapsed.  Output checks run after it, untimed.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the same loop with spans, job
groups, noop probes of the lazy layers and the Spark event log, and
prints the per-layer metrics.  The last stdout line is one JSON object.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import curw_wrf_data_pusher_spark  # noqa: E402,F401  (fails outside a checkout)

from harness import (  # noqa: E402
    EventLog,
    RssSampler,
    Tracer,
    find_event_log,
    median,
    start_session,
    stop_session,
    tree_stats,
)
from llm import ROWS, LlmDedup  # noqa: E402
from wrf import WrfPush, WrfServe  # noqa: E402

SCALES = {
    # dims (T, south_north, west_east): the real d03 grid, 7 time steps
    "full": {"dims": (7, 162, 99), "systems": ("A",),
             "llm": {"documents": 500, "embeddings": 1000}},
    "tiny": {"dims": (30, 6, 5), "systems": ("A", "C"),
             "llm": {"documents": 80, "embeddings": 60}},
}
END_TO_END = {"setup_s": "s", "wall_s": "s", "job_p50_s": "s",
              "job_max_s": "s", "cpu_s": "s"}
#: printed with the end-to-end metrics but not gated: store_mb and
#: failed_frac are 0 on some workloads or on every correct run, and
#: peak_rss_mb jumps by about 1 GB with the JVM's heap sizing
TABLE_ONLY = {"peak_rss_mb": "MB", "store_mb": "MB", "failed_frac": "ratio"}
PER_LAYER = {
    "sources.netcdf.self_s": "s", "sources.netcdf.cpu_s": "s",
    "sources.netcdf.cells_decoded": "count",
    "sources.netcdf.decode_passes": "count",
    "sources.netcdf.failed_tasks": "count",
    "plans.wrf_push.self_s": "s", "plans.wrf_push.shuffle_write_mb": "MB",
    "plans.wrf_push.spill_mb": "MB", "plans.wrf_push.task_skew": "ratio",
    "plans.wrf_push.rows_out": "count", "plans.wrf_push.failed_tasks": "count",
    "sinks.upsert.self_s": "s", "sinks.upsert.jobs": "count",
    "sinks.upsert.rows_written": "count", "sinks.upsert.rewrite_ratio": "ratio",
    "sinks.upsert.files_written": "count",
    "sinks.upsert.bytes_written_mb": "MB", "sinks.upsert.failed_tasks": "count",
    "plans.bucketed_lake.self_s": "s",
    "plans.bucketed_lake.rows_scanned": "count",
    "plans.bucketed_lake.read_amplification": "ratio",
    "plans.bucketed_lake.exchanges": "count",
    "plans.bucketed_lake.failed_tasks": "count",
    "sinks.rfield_files.self_s": "s", "sinks.rfield_files.files": "count",
    "sinks.rfield_files.bytes_mb": "MB",
    "sinks.rfield_files.task_skew": "ratio",
    "sinks.rfield_files.failed_tasks": "count",
    "plans.hybrid.self_s": "s", "plans.hybrid.rows_out": "count",
    "plans.hybrid.series_scanned": "count",
    "plans.hybrid.failed_tasks": "count",
    **{f"queries.{r}.{m}": u for r in ROWS for m, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"),
        ("failed_tasks", "count"))},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "trace.overhead_s": "s", "trace.unattributed_s": "s",
    "trace.unattributed_stages": "count",
}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("wrf-push", "wrf-serve", "llm-dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="3g")
    p.add_argument("--partitions-per-core", type=int, default=2)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args()


def make_workload(args, spark, tracer, work):
    scale = SCALES[args.scale]
    if args.workload == "llm-dedup":
        return LlmDedup(spark, tracer, work, args.seed, scale["llm"])
    cls = WrfPush if args.workload == "wrf-push" else WrfServe
    return cls(spark, tracer, work, args.seed, scale["dims"],
               scale["systems"])


def run_pass(wl, tracer, traced: bool) -> list[dict]:
    """One pass of the workload's jobs.  Each job is timed alone; the
    store restore before it and the layer probes after it are not."""
    out = []
    for name, fn in wl.jobs():
        wl.before_job()
        cpu0 = tree_stats()[0]
        t0 = time.perf_counter()
        with tracer.span(f"job.{name}", job=True):
            try:
                info = fn()
            except Exception:
                traceback.print_exc()
                info = {"ok": False, "store_bytes": 0}
        rec = {"name": name, "s": time.perf_counter() - t0,
               "cpu_s": tree_stats()[0] - cpu0, "ok": bool(info["ok"]),
               "store_bytes": info["store_bytes"]}
        if traced and rec["ok"]:
            rec["layers"] = wl.layers(info)
        out.append(rec)
    return out


def traced_metrics(wl, tracer, log, passes, overhead_s) -> dict:
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    per_key: dict[str, list[float]] = {}
    unattributed = []
    for p in passes:
        for job in p:
            if "layers" not in job:
                continue
            lm = wl.layer_metrics(job["layers"], log)
            for k, v in lm.items():
                per_key.setdefault(k, []).append(float(v))
            unattributed.append(job["s"] - sum(
                v for k, v in lm.items() if k.endswith(".self_s")
                or k.startswith("queries.") and k.endswith(".wall_s")))
    for k, vs in per_key.items():
        metrics[k] = median(vs)
    # spans opened inside a timed job: the job spans and their children
    job_spans = {sp["id"] for sp in tracer.spans if sp.get("job")}
    in_jobs = {sp["id"] for sp in tracer.spans
               if sp["id"] in job_spans or sp["parent"] in job_spans}
    stages = log.stages_of(in_jobs)
    n = max(1, len(passes))
    metrics.update({
        "spark.jobs": sum(1 for s in log.jobs.values() if s in in_jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": len(log.tasks_of(stages)) / n,
        "trace.overhead_s": overhead_s,
        "trace.unattributed_s": sum(unattributed) / n,
        "trace.unattributed_stages": log.unattributed_stages(),
    })
    return metrics


def pass_s(p) -> float:
    return sum(j["s"] for j in p)


def main() -> int:
    args = parse_args()
    begin = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    reference = os.path.join(ROOT, ".perfbench_work",
                             f"{args.workload}-{args.scale}.untraced.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(work, "events") if args.trace else None

    t0 = time.perf_counter()
    spark = start_session(work, cores, args.partitions_per_core,
                          args.driver_memory, event_dir)
    session_s = time.perf_counter() - t0
    try:
        # traced, the set-up and the checks get spans too, so every
        # stage of the run has a span to be attributed to
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = make_workload(args, spark, tracer, work)
        builds = []
        with tracer.span("setup"):
            for rep in range(wl.setup_reps):
                t = time.perf_counter()
                wl.build(rep)
                builds.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t
        setup_s = session_s + median(builds) + warm_s

        passes = []
        with RssSampler() as rss:
            start = time.perf_counter()
            while True:
                passes.append(run_pass(wl, tracer, traced=bool(args.trace)))
                if time.perf_counter() - start >= args.seconds:
                    break
        t = time.perf_counter()
        with tracer.span("checks"):
            try:
                bad = wl.check()
            except Exception as exc:
                traceback.print_exc()
                bad = [f"check raised {type(exc).__name__}"]
        check_s = time.perf_counter() - t
    finally:
        stop_session(spark)
    for msg in bad:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    jobs = [j for p in passes for j in p]
    failed_rows = wl.failed_jobs(bad, jobs)
    failed = sum(1 for j in jobs if not j["ok"] or j["name"] in failed_rows)
    values = {
        "setup_s": setup_s,
        "wall_s": median(pass_s(p) for p in passes),
        "job_p50_s": median(j["s"] for j in jobs),
        "job_max_s": max(j["s"] for j in jobs),
        "cpu_s": median(sum(j["cpu_s"] for j in p) for p in passes),
        "peak_rss_mb": rss.peak / 1e6,
        "store_mb": median(sum(j["store_bytes"] for j in p)
                           for p in passes) / 1e6,
        "failed_frac": failed / len(jobs),
    }
    if args.trace:
        tracer.dump(os.path.join(work, "spans.json"))
        log = EventLog(find_event_log(event_dir))
        units = PER_LAYER
        # trace.overhead_s compares with the last untraced run here
        try:
            with open(reference) as f:
                reference_s = json.load(f)["wall_s"]
        except (OSError, ValueError, KeyError):
            reference_s = values["wall_s"]
            print("no untraced run recorded: trace.overhead_s is 0")
        metrics = traced_metrics(wl, tracer, log, passes,
                                 values["wall_s"] - reference_s)
    else:
        units = END_TO_END
        metrics = values
        with open(reference, "w") as f:
            json.dump(values, f)
        for k, u in {**END_TO_END, **TABLE_ONLY}.items():
            print(f"{args.workload:10s} {k:14s} {values[k]:12.4f} {u}")
    print(f"{args.workload}: {len(passes)} passes, {len(jobs)} jobs, "
          f"{failed} failed; session {session_s:.2f} s, builds "
          f"{[round(b, 2) for b in builds]} s, warm-up {warm_s:.2f} s, "
          f"checks {check_s:.2f} s, run {time.perf_counter() - begin:.1f} s")
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
