#!/usr/bin/env python
"""sf1-scale parity spot set (judge r13 task 5): build a DETERMINISTIC
10x twin of the sf0.1 lake (= sf1 volume), then hash-check the most
expensive oracle-gated families Spark-vs-DuckDB on it.

    python scripts/sf1_parity.py [src_sf_dir] [twin_dir] [round] [out]

Twin construction (all rules deterministic; both engines read the
SAME parquet, so parity needs no cross-engine generation contract):

- region/nation: copied (dims shared by every replica — replicating
  them would break FK joins).
- customer/orders/lineitem/supplier/part: replicated ``FACTOR`` times
  with every join key shifted by ``i * KEYBASE`` (nation/region keys
  untouched), so each replica is a self-consistent TPC-H world and
  join cardinalities scale linearly.
- events: ids shifted; ts shifted +i seconds (distinct series, no
  pile-up on one timestamp).  DuckDB rewrites ts as TIMESTAMP(us) —
  load_table type-sniffs nanos at read time, so the µs twin reads
  identically in both engines.
- documents: doc_id shifted; replica i>0 texts prefixed with
  ``r{i} `` (kills exact-dup degeneracy, keeps 9 near-identical
  twins per doc — the WORST case for the near-dup joins);
  n_chars recomputed to keep the length invariant.
- embeddings: vec_id shifted; first coordinate jittered +i*0.01 so
  replicas are near- but not exact-duplicates in cosine space.

Per family: one untimed warm-up, then the timed run (load1 recorded,
same discipline as parity_sweep.py)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTOR = int(os.environ.get("SF1_FACTOR", "10"))
KEYBASE = 10**9

#: most-expensive oracle-gated families (bench_r13 descending cost,
#: minus the sf-independent synthetic-d03 ingest rows)
CANDIDATES = [
    "llm_setsim_pairs",
    "llm_semantic_dedup",
    "llm_stupid_backoff",
    "llm_dsir_weights",
    "llm_simhash_neighbors",
    "llm_incremental_neardup",
    "llm_pq_topk",
    "llm_opq_serve",
    "w6_gap_fill",
    "w17_sliding_distinct_kmv",
    "llm_ngram_logfreq",
    "a16_countmin_freq",
    "llm_winnow_pairs",
    "llm_substring_dedup",
    "llm_cosine_topk_neardup",
    # round 15 (VERDICT r14 item 7): the two named rows the r14 twin
    # sweep was missing — the cross-corpus setsim form (same rewrite
    # as llm_setsim_pairs, different pair machinery) and the 20k-token
    # repetition rewrite (additive; existing rows unchanged)
    "llm_setsim_cross",
    "llm_repetition_signals",
]


def build_twin(src: str, dst: str) -> None:
    import duckdb
    import numpy as np
    import pandas as pd

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    def copy(table: str, select_i: str | None = None) -> None:
        out = os.path.join(dst, f"{table}.parquet")
        # a crashed prior build may leave a truncated file: rebuild
        # unless the file exists AND is non-trivial; build to .tmp +
        # atomic rename so this check is reliable
        if os.path.exists(out) and os.path.getsize(out) > 64:
            return
        srcp = os.path.join(src, f"{table}.parquet")
        if select_i is None:
            q = f"SELECT * FROM '{srcp}'"
        else:
            q = " UNION ALL ".join(
                select_i.format(i=i, src=srcp) for i in range(FACTOR)
            )
        con.execute(f"COPY ({q}) TO '{out}.tmp' (FORMAT PARQUET)")
        os.replace(out + ".tmp", out)

    copy("region")
    copy("nation")
    copy("customer", (
        "SELECT c_custkey + {i}::BIGINT*" + str(KEYBASE) + " AS c_custkey, c_name,"
        " c_nationkey, c_acctbal, c_mktsegment FROM '{src}'"
    ))
    copy("supplier", (
        "SELECT s_suppkey + {i}::BIGINT*" + str(KEYBASE) + " AS s_suppkey, s_name,"
        " s_nationkey, s_acctbal FROM '{src}'"
    ))
    copy("part", (
        "SELECT p_partkey + {i}::BIGINT*" + str(KEYBASE) + " AS p_partkey, p_name,"
        " p_brand, p_type, p_size, p_retailprice FROM '{src}'"
    ))
    copy("orders", (
        "SELECT o_orderkey + {i}::BIGINT*" + str(KEYBASE) + " AS o_orderkey,"
        " o_custkey + {i}::BIGINT*" + str(KEYBASE) + " AS o_custkey,"
        " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        " FROM '{src}'"
    ))
    copy("lineitem", (
        "SELECT l_orderkey + {i}::BIGINT*" + str(KEYBASE) + " AS l_orderkey,"
        " l_partkey + {i}::BIGINT*" + str(KEYBASE) + " AS l_partkey,"
        " l_suppkey + {i}::BIGINT*" + str(KEYBASE) + " AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate FROM '{src}'"
    ))
    copy("events", (
        "SELECT event_id + {i}::BIGINT*" + str(KEYBASE) + " AS event_id,"
        " ts + INTERVAL ({i}) SECOND AS ts,"
        " user_id + {i}::BIGINT*" + str(KEYBASE) + " AS user_id,"
        " event_type, value, props FROM '{src}'"
    ))
    copy("documents", (
        "SELECT doc_id + {i}::BIGINT*" + str(KEYBASE) + " AS doc_id,"
        " CASE WHEN {i} = 0 THEN text ELSE 'r{i} ' || text END AS text,"
        " lang, source,"
        " CAST(length(CASE WHEN {i} = 0 THEN text"
        " ELSE 'r{i} ' || text END) AS BIGINT) AS n_chars FROM '{src}'"
    ))
    out = os.path.join(dst, "embeddings.parquet")
    if not (os.path.exists(out) and os.path.getsize(out) > 64):
        base = pd.read_parquet(os.path.join(src, "embeddings.parquet"))
        parts = []
        for i in range(FACTOR):
            p = base.copy()
            p["vec_id"] = p["vec_id"] + i * KEYBASE
            p["embedding"] = p["embedding"].map(
                lambda v, i=i: np.concatenate(
                    ([np.float32(v[0] + 0.01 * i)],
                     np.asarray(v, dtype=np.float32)[1:])
                )
            )
            parts.append(p)
        pd.concat(parts, ignore_index=True).to_parquet(
            out + ".tmp", index=False)
        os.replace(out + ".tmp", out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_twin"
    rnd = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    out_path = sys.argv[4] if len(sys.argv) > 4 else f"PARITY_SF1_r{rnd:02d}.json"

    from curw_wrf_data_pusher_spark.queries import ORACLES, QUERIES

    # a misspelled or unregistered candidate must fail the sweep, not
    # silently shrink it
    missing = [n for n in CANDIDATES if n not in QUERIES or n not in ORACLES]
    if missing:
        raise SystemExit(
            f"sf1_parity: candidates without a registered query and "
            f"oracle: {missing}"
        )

    t0 = time.time()
    build_twin(src, dst)
    build_s = round(time.time() - t0, 1)
    print(f"twin built/cached in {build_s}s at {dst}", file=sys.stderr)

    from curw_wrf_data_pusher_spark.session import get_spark
    from tests.oracle_harness import canonical_hash, duckdb_connection

    spark = get_spark("sf1-parity")
    con = duckdb_connection(dst)
    results = {}
    n_match = 0
    for name in CANDIDATES:
        QUERIES[name](spark, dst).toPandas()  # untimed warm-up
        try:
            load1 = round(os.getloadavg()[0], 2)
        except OSError:
            load1 = -1.0
        t1 = time.perf_counter()
        sp_df = QUERIES[name](spark, dst).toPandas()
        sp_sec = round(time.perf_counter() - t1, 2)
        t1 = time.perf_counter()
        du_df = con.execute(ORACLES[name]).df()
        du_sec = round(time.perf_counter() - t1, 2)
        match = canonical_hash(sp_df) == canonical_hash(du_df)
        n_match += match
        results[name] = {
            "spark_rows": len(sp_df), "oracle_rows": len(du_df),
            "spark_sec": sp_sec, "oracle_sec": du_sec,
            "load1": load1, "match": bool(match),
        }
        print(f"{name}: {results[name]}", file=sys.stderr)
    artifact = {
        "sf_equivalent": 1.0, "factor": FACTOR, "src": src,
        "round": rnd, "twin_build_s": build_s,
        "n_queries": len(CANDIDATES), "n_match": n_match,
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({k: v for k, v in artifact.items()
                      if k != "results"}))
    sys.exit(0 if n_match == len(CANDIDATES) else 1)


if __name__ == "__main__":
    main()
