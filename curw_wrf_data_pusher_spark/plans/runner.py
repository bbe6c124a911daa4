"""Orchestration parity (SURVEY §2.12, §3): one driver entry per
reference entry point, config-JSON compatible, zero process boundaries.

Reference: ``wrf_data_pusher.py`` forks a process pool over WRF systems
(:479-486), shells out to gen_rfields per system (:337-340) and to four
hybrid scripts at the end (:488-494), accumulating errors into an email
dict.  Here each run is ONE Spark application: systems are column
values, the "scripts" are function calls, and the run report is a
structured dict returned to the caller.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.upsert import staged_upsert, upsert_parquet
from .config import WrfConfig
from .rfields import build_rfields
from .wrf_push import persisted_push


@dataclass
class RunReport:
    """Structured replacement for the reference's email_content dict
    (wrf_data_pusher.py:33,507-512)."""

    steps: list[dict] = field(default_factory=list)

    def record(self, step: str, ok: bool, detail: str = "", **metrics):
        self.steps.append(
            {"step": step, "ok": ok, "detail": detail, **metrics,
             "at": time.strftime("%Y-%m-%d %H:%M:%S")}
        )

    @property
    def ok(self) -> bool:
        return all(s["ok"] for s in self.steps)


def run_wrf_push(
    spark: SparkSession,
    cfg: WrfConfig,
    grid: DataFrame,
    store_dir: str,
    stations: DataFrame | None = None,
    rfield_dir: str | None = None,
    systems: list[str] | None = None,
) -> RunReport:
    """E1 (+E2 when rfield_dir given) for one run, all systems at once.

    ``grid``: long-format grid rows (from read_wrf_grid), possibly
    many systems/files.
    ``systems``: restrict to these WRF systems — the sequential
    single-system variant (wrf_data_pusher_seq.py) is just this filter,
    which prunes the lake partition when wrf_system is a partition
    column.

    Both upserts read one cached copy of the frame ``fact`` and ``runs``
    share (``persisted_push``: decoded, lag-diffed, ``tms_id``-keyed);
    the first action fills it, and it is released when the push step
    ends, whether the step succeeds, finds the grid empty or fails.

    Ordering rule (the reference's K1 → K2/K3, wrf_data_pusher.py:103-140,
    :239-260): the fact merge commits first, then the run dim is
    published.  The run-dim merge does not need the fact merge's output,
    so it is staged on one worker thread beside it (``staged_upsert``),
    and only its publish waits for the fact commit.  A failed fact merge
    or an empty push discards the staged run dim, leaving it exactly as
    it was; the thread is joined before the cache is released."""
    report = RunReport()
    if systems is not None:
        grid = grid.filter(F.col("wrf_system").isin(list(systems)))
    try:
        with (
            persisted_push(grid, cfg, stations=stations) as (fact, runs),
            staged_upsert(
                spark, runs, os.path.join(store_dir, "run"), keys=["tms_id"]
            ) as publish_runs,
        ):
            # Partition the fact store by the date prefix of `time`: a
            # pure function of the (tms_id, time) key, so the
            # partition-scoped merge is sound — each daily push touches
            # only its own date directories, untouched dates are never
            # read or rewritten.
            fact = fact.withColumn("time_date", F.substring("time", 1, 10))
            n_fact = upsert_parquet(
                spark, fact, os.path.join(store_dir, "fcst_data"),
                keys=["tms_id", "time"],
                partition_cols=["time_date"],
            )
            # A4 emptiness guard: the reference aborts with "timeseries
            # is empty" (wrf_data_pusher.py:200-204) — an empty push is
            # a failed step, not a silent success, and the run dim must
            # not be swapped for a merge of zero rows
            if n_fact == 0:
                report.record("push", False, detail="timeseries is empty")
                return report
            n_runs = publish_runs()
        report.record("push", True, rows=n_fact, series=n_runs)
    except Exception as exc:
        report.record("push", False, detail=f"{type(exc).__name__}: {exc}")
        return report

    if rfield_dir is not None:
        try:
            files = build_rfields(grid, rfield_dir)
            report.record(
                "rfields", True,
                files=sum(len(v) for v in files.values()),
            )
        except Exception as exc:
            report.record(
                "rfields", False, detail=f"{type(exc).__name__}: {exc}"
            )
    return report
