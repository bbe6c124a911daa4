"""Shared machinery of the benchmark: the Spark session, process-tree
CPU and RSS from /proc, the span tracer and the event-log reader.

Nothing here touches the engine's internals.  Layers are measured from
outside: the workloads wrap their calls into the engine's public
functions in spans, every span tags the Spark jobs it launches with a
job group, and the event log written by a traced run attributes each
stage (shuffle, spill, task times, SQL metrics) to the span whose group
launched it.  CPU comes from /proc, so Python workers count too.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

CLK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        f = raw[raw.rfind(")") + 2:].split()
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / CLK
        out[int(name)] = (int(f[1]), cpu, int(f[21]) * PAGE)
    return out


def tree_stats(root: int | None = None) -> tuple[float, int]:
    """(CPU seconds, RSS bytes) summed over ``root`` and every
    descendant: this driver, the JVM it launched and the JVM's Python
    workers.  Exited workers are counted through their parent's
    reaped-children CPU, so a delta between two calls is the tree's
    CPU over that interval."""
    root = root or os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    cpu, rss, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            cpu += table[pid][1]
            rss += table[pid][2]
        todo.extend(kids.get(pid, ()))
    return cpu, rss


class RssSampler:
    """Background thread recording the peak summed RSS of the tree."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_stats()[1])
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_stats()[1])


# ---------------------------------------------------------------- session


def start_session(work: str, cores: int, partitions_per_core: int,
                  driver_memory: str, event_log_dir: str | None):
    """The engine's own session factory, sized for this machine:
    ``local[cores]``, shuffle partitions = cores x partitions_per_core,
    explicit driver memory, and every scratch path inside ``work``."""
    from curw_wrf_data_pusher_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # inherited by the JVMs and Python workers: temp files, shuffle and
    # spill files in ``work``, and no hsperfdata file in the system tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    conf = {
        "spark.driver.memory": driver_memory,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores * partitions_per_core, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes)
    and wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def noop(df) -> None:
    """Run ``df`` to completion and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def du_bytes(path: str, newer_than: float | None = None) -> tuple[int, int]:
    """(bytes, files) under ``path``; only files modified at or after
    ``newer_than`` when given."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            if newer_than is None or st.st_mtime >= newer_than:
                total += st.st_size
                files += 1
    return total, files


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------- tracer


class Tracer:
    """Spans kept in memory: name, start, end, parent, process-tree CPU
    and free-form attributes.  When enabled, every span sets the Spark
    job group ``s<id>`` for its duration (restoring the parent's on
    exit), so the event log can attribute stages to spans.  Disabled,
    spans only record their times and touch neither Spark nor /proc."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name,
              "parent": parent["id"] if parent else None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(f"s{sp['id']}", name)
            sp["cpu0"] = tree_stats()[0]
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sp["cpu_s"] = tree_stats()[0] - sp.pop("cpu0")
                if parent is not None:
                    self.sc.setJobGroup(f"s{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def probe(self, name: str, df) -> dict:
        """Time ``df`` through the noop sink in its own top-level span
        and count its rows in-plan (an ``Observation``, no extra job).
        Used for lazy layers: the difference between the probes of a
        layer's output and of its input is the layer's own cost."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"probe{len(self.spans)}")
        with self.span(name, probe=True) as sp:
            noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
        sp["rows"] = int(obs.get["rows"])
        return sp

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


# ---------------------------------------------------------------- event log


class EventLog:
    """Stages, tasks and SQL metrics of one application, keyed by the
    span (job group) that launched them."""

    def __init__(self, path: str):
        self.stage_span: dict[int, int | None] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.stage_accs: dict[int, dict[int, float]] = {}
        self.acc_node: dict[int, tuple[str, str]] = {}
        self.exec_plan: dict[int, dict] = {}
        self.exec_span: dict[int, int | None] = {}
        self.jobs: dict[int, int | None] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            group = e.get("Properties", {}).get("spark.jobGroup.id") or ""
            span = int(group[1:]) if group.startswith("s") else None
            self.jobs[e["Job ID"]] = span
            for sid in e["Stage IDs"]:
                self.stage_span.setdefault(sid, span)
            xid = e.get("Properties", {}).get("spark.sql.execution.id")
            if xid is not None:
                self.exec_span.setdefault(int(xid), span)
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            sw = tm.get("Shuffle Write Metrics", {})
            self.stage_tasks.setdefault(e["Stage ID"], []).append({
                "ms": ti["Finish Time"] - ti["Launch Time"],
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "failed": bool(ti.get("Failed")),
            })
            accs = self.stage_accs.setdefault(e["Stage ID"], {})
            for a in ti.get("Accumulables", []):
                try:
                    accs[a["ID"]] = accs.get(a["ID"], 0) + float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif ev.endswith("SQLExecutionStart") or ev.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            plan = e["sparkPlanInfo"]
            self.exec_plan[e["executionId"]] = plan
            todo = [plan]
            while todo:
                node = todo.pop()
                for m in node.get("metrics", []):
                    self.acc_node[m["accumulatorId"]] = (
                        node["nodeName"], m["name"]
                    )
                todo.extend(node.get("children", []))

    # -- queries over the stages of a set of spans --

    def stages_of(self, span_ids) -> list[int]:
        ids = set(span_ids)
        return [s for s, sp in self.stage_span.items()
                if sp in ids and s in self.stage_tasks]

    def tasks_of(self, stages) -> list[dict]:
        return [t for s in stages for t in self.stage_tasks.get(s, [])]

    def metric(self, stages, node_prefix: str, metric: str) -> float:
        """Sum of one SQL metric over the plan nodes whose name starts
        with ``node_prefix``, across ``stages``."""
        total = 0.0
        for s in stages:
            for acc, v in self.stage_accs.get(s, {}).items():
                node, name = self.acc_node.get(acc, ("", ""))
                if name == metric and node.startswith(node_prefix):
                    total += v
        return total

    def stages_with_node(self, stages, node_prefix: str) -> list[int]:
        return [
            s for s in stages
            if any(self.acc_node.get(a, ("",))[0].startswith(node_prefix)
                   for a in self.stage_accs.get(s, {}))
        ]

    def plan_nodes(self, span_ids, node_name: str) -> int:
        """Nodes called ``node_name`` in the final plans of the SQL
        executions launched by the given spans."""
        ids, n = set(span_ids), 0
        for xid, plan in self.exec_plan.items():
            if self.exec_span.get(xid) not in ids:
                continue
            todo = [plan]
            while todo:
                node = todo.pop()
                n += node["nodeName"] == node_name
                todo.extend(node.get("children", []))
        return n

    def unattributed_stages(self) -> int:
        return sum(1 for s, sp in self.stage_span.items()
                   if sp is None and s in self.stage_tasks)


def stage_summary(log: EventLog, stages) -> dict:
    """Shuffle, spill, failed tasks and skew of a set of stages.  Skew
    is max / median task time within the stage that holds the most
    task time (the one that decides the wall), 1.0 when it has fewer
    than two tasks."""
    tasks = log.tasks_of(stages)
    skew = 1.0
    if stages:
        top = max(stages, key=lambda s: sum(
            t["ms"] for t in log.stage_tasks[s]))
        ms = [t["ms"] for t in log.stage_tasks[top]]
        if len(ms) >= 2 and statistics.median(ms) > 0:
            skew = max(ms) / statistics.median(ms)
    return {
        "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "failed_tasks": sum(t["failed"] for t in tasks),
        "task_skew": skew,
    }


def find_event_log(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {names}")
    return os.path.join(directory, names[0])
