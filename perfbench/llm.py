"""The ``llm-dedup`` workload: the registered near-duplicate and
curation rows, one query per job, on a seeded resample of the sf0.1
``documents`` and ``embeddings`` tables.  Each job collects its result
to the driver, so the output check covers the rows the timed job made.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from harness import stage_summary

#: run order: the first row also pays the session's JIT warm-up, so the
#: cheap exact-dedup baseline goes first
ROWS = (
    "llm_exact_dedup_fingerprint", "llm_cosine_topk_neardup",
    "llm_setsim_pairs", "llm_setsim_cross", "llm_simhash_neighbors",
    "llm_dedup_clusters", "llm_minhash_lsh_pairs", "llm_jaccard_verify",
    "llm_curate_corpus", "llm_incremental_neardup", "llm_semantic_dedup",
    "llm_winnow_pairs", "llm_substring_dedup", "llm_contamination",
)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: (table, id column) pairs the rows read
TABLES = (("documents", "doc_id"), ("embeddings", "vec_id"))


def resample(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Draw ``sizes[table]`` rows with replacement from each base table
    and renumber the id column 0..n-1.  Drawing with replacement plants
    exact duplicates, as a real crawl has."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for k, (table, id_col) in enumerate(TABLES):
        base = pq.read_table(os.path.join(DATA, f"{table}.parquet"))
        rng = np.random.default_rng([seed, k])
        pick = rng.integers(0, base.num_rows, sizes[table])
        t = base.take(pa.array(pick))
        ids = pa.array(np.arange(t.num_rows), t.schema.field(id_col).type)
        t = t.set_column(t.schema.get_field_index(id_col), id_col, ids)
        pq.write_table(t, os.path.join(out_dir, f"{table}.parquet"))


class LlmDedup:
    #: the resample takes milliseconds: setup_s takes the median of 3
    setup_reps = 3

    def __init__(self, spark, tracer, work, seed, sizes):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.sizes = seed, sizes
        self.sf = None
        self.results: dict = {}

    def build(self, rep: int) -> None:
        if self.sf is not None:
            shutil.rmtree(self.sf, ignore_errors=True)
        self.sf = os.path.join(self.work, f"rep{rep}", "sf")
        resample(self.sf, self.seed, self.sizes)

    def warm(self) -> None:
        pass

    def jobs(self):
        return [(row, self._job(row)) for row in ROWS]

    def before_job(self) -> None:
        pass

    def _job(self, row: str):
        from curw_wrf_data_pusher_spark.queries import QUERIES

        def run() -> dict:
            with self.tracer.span(f"queries.{row}") as sp:
                self.results[row] = QUERIES[row](
                    self.spark, self.sf).toPandas()
            return {"ok": True, "store_bytes": 0, "spans": (sp,)}

        return run

    def check(self) -> list[str]:
        """Each row's Spark result hash-matches its registered DuckDB
        oracle on the resampled tables."""
        import duckdb

        from curw_wrf_data_pusher_spark.queries import ORACLES
        from tests.oracle_harness import canonical_hash

        con = duckdb.connect()
        for table, _ in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{os.path.join(self.sf, table)}.parquet'")
        bad = []
        for row in ROWS:
            if row not in ORACLES:
                bad.append(f"{row}: no registered oracle")
            elif canonical_hash(con.execute(ORACLES[row]).df()) != \
                    canonical_hash(self.results[row]):
                bad.append(f"{row}: result differs from its DuckDB oracle")
        con.close()
        return bad

    @staticmethod
    def failed_jobs(bad: list[str], jobs) -> set[str]:
        """A failed oracle check fails that row's jobs."""
        return {msg.split(":")[0] for msg in bad}

    def layers(self, job: dict) -> dict:
        return {"span": job["spans"][0]}

    @staticmethod
    def layer_metrics(rec: dict, log) -> dict:
        sp = rec["span"]
        row = sp["name"]
        s = stage_summary(log, log.stages_of([sp["id"]]))
        return {
            f"{row}.wall_s": sp["end"] - sp["start"],
            f"{row}.cpu_s": sp["cpu_s"],
            f"{row}.shuffle_write_mb": s["shuffle_write_mb"],
            f"{row}.failed_tasks": s["failed_tasks"],
        }
