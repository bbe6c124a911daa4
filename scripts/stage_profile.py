#!/usr/bin/env python
"""Per-STAGE drill-down for one query: task time, executor CPU,
shuffle bytes and the stage's RDD-scope name chain, from the event
log.  Complements profile_queries.py (which aggregates per query).

    python scripts/stage_profile.py <query> [--reps 1]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from curw_wrf_data_pusher_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir = tempfile.mkdtemp(prefix="stageprof-")
    spark = get_spark(
        "stage-profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    bench._resolve("a1_pricing_summary")(spark, sf_dir).write.format(
        "noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(args.name)
    for _ in range(args.reps):
        if args.name in bench.SINKS:
            bench.SINKS[args.name](spark, sf_dir)
        else:
            bench._resolve(args.name)(spark, sf_dir).write.format(
                "noop").mode("overwrite").save()
    spark.sparkContext.setJobDescription(None)
    sc_log = spark.sparkContext
    sc_log._jsc.sc().listenerBus().waitUntilEmpty()

    stages: dict[int, dict] = {}
    labelled: set[int] = set()
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path) or "appstatus" in path:
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get(
                        "spark.job.description") == args.name:
                        labelled.update(ev.get("Stage IDs", []))
                elif k == "SparkListenerStageSubmitted":
                    info = ev.get("Stage Info") or {}
                    sid = info.get("Stage ID")
                    st = stages.setdefault(sid, {
                        "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                        "sr_mb": 0.0, "sw_mb": 0.0, "name": "",
                    })
                    st["name"] = info.get("Name", "")
                    # scope chain: distinct callsite names of the RDDs
                    scopes = []
                    for rdd in info.get("RDD Info", []):
                        s = rdd.get("Scope")
                        if s:
                            try:
                                nm = json.loads(s).get("name")
                                if nm and nm not in scopes:
                                    scopes.append(nm)
                            except Exception:
                                pass
                    st["scopes"] = scopes
                elif k == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    st = stages.setdefault(sid, {
                        "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                        "sr_mb": 0.0, "sw_mb": 0.0, "name": "",
                    })
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st["tasks"] += 1
                    st["task_s"] += max(
                        0, info.get("Finish Time", 0)
                        - info.get("Launch Time", 0)) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["sr_mb"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0)) / 1e6
                    st["sw_mb"] += sw.get(
                        "Shuffle Bytes Written", 0) / 1e6

    rows = [(sid, st) for sid, st in sorted(stages.items())
            if sid in labelled]
    total_cpu = sum(st["cpu_s"] for _, st in rows)
    print(f"{'sid':>4} {'tasks':>5} {'task_s':>8} {'cpu_s':>7} "
          f"{'sr_mb':>8} {'sw_mb':>8}  scopes")
    for sid, st in rows:
        print(f"{sid:>4} {st['tasks']:>5} {st['task_s']:>8.2f} "
              f"{st['cpu_s']:>7.2f} {st['sr_mb']:>8.2f} "
              f"{st['sw_mb']:>8.2f}  "
              f"{' | '.join(st.get('scopes', [])[:6])}")
    print(f"total labelled stages={len(rows)} cpu={total_cpu:.1f}s")


if __name__ == "__main__":
    main()
