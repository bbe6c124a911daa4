"""Core relational operators from SURVEY §2 on the driver's
TPC-H-ish testdata (split from the former queries/generic.py
monolith; registration ORDER across the five generic modules is
load-bearing — see queries/__init__.py).

Families here: predicate/projection (P2-P16 basics), windows
(W1-W4), joins (J1-J7 incl. as-of + range), aggregates (A1-A12
incl. rollup/cube/grouping sets, percentiles, approx aggs), set ops
(U1-U5), reshape (R1), ordering (O1), resample (S10), file metadata
(P10).

Each query name carries its SURVEY §2 operator id.  Numeric-stability
rules (see registry.py): double aggregates go through DECIMAL and back
to DOUBLE so both engines produce bit-identical values regardless of
summation order; ratios divide two already-identical values; window
ranks always carry a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.keys import parse_grid_key, station_name
from ..functions.timeutils import truncate_minute, utc_to_lk
from ..operators.dedup import latest_per_series, latest_per_series_join
from ..operators.diff import adjacent_diff
from ..operators.joins import get_or_create, nearest_neighbor_map
from ..operators.pivot import pivot_by_source, unpivot
from ..sources.lake import load_table, spread
from .registry import register

DEC = "decimal(18,2)"


def _dsum(col: str):
    """Order-insensitive exact double sum: sum in DECIMAL, cast back."""
    return F.sum(F.col(col).cast(DEC)).cast("double")


# ---------------------------------------------------------------------------
# P2/P3 — conjunctive range predicate (bounding box form)
# Reference: np.where bbox slice wrf_data_pusher.py:181-189;
# Kelani extent filter gen_rfields.py:188-194.
@register(
    "p2_bbox_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_quantity >= 10 AND l_quantity <= 20
      AND l_discount >= 0.05 AND l_discount <= 0.07
    """,
)
def p2_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20) & F.col("l_discount").between(0.05, 0.07)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


# P4 — SQL-string-expression filter (pandas .query analogue,
# gen_active_stations_rfields.py:97-102).
@register(
    "p4_sql_string_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value >= 100.0 AND event_type = 'purchase'
    """,
)
def p4_sql_string_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter("value >= 100.0 AND event_type = 'purchase'").select(
        "event_id", "user_id", "event_type", "value"
    )


# P5/P6/P8 — projection + numeric formatting + key construction
# (to_csv column projection gen_rfields.py:198-208; 6-dp coords
# wrf_data_pusher.py:214-215; 'wrf_{lat}_{lon}' names :220).
@register(
    "p6_station_names",
    oracle="""
    SELECT c_custkey,
           concat_ws('_', 'wrf', printf('%.6f', c_acctbal),
                     printf('%.6f', CAST(c_custkey AS DOUBLE))) AS station,
           printf('%.3f', c_acctbal) AS val_3dp
    FROM customer
    """,
)
def p6_station_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        station_name(F.col("c_acctbal"), F.col("c_custkey").cast("double")).alias(
            "station"
        ),
        F.format_string("%.3f", F.col("c_acctbal")).alias("val_3dp"),
    )


# P7 — timestamp decode/shift/truncate pipeline (UTC → +05:30 LK,
# minute truncation; wrf_data_pusher.py:75-76,268).
@register(
    "p7_timestamp_shift",
    oracle="""
    SELECT event_id,
           strftime(date_trunc('minute', ts + INTERVAL '5 hours 30 minutes'),
                    '%Y-%m-%d %H:%M:%S') AS time_lk
    FROM events
    """,
)
def p7_timestamp_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format(
            truncate_minute(utc_to_lk(F.col("ts"))), "yyyy-MM-dd HH:mm:ss"
        ).alias("time_lk"),
    )


# P9 — grid-key parse: split('_'), arity guard, extract obs id
# (gen_active_stations_rfields.py:149-154).
@register(
    "p9_key_parse",
    oracle="""
    WITH keyed AS (
      SELECT concat_ws('_', 'rainfall', CAST(c_custkey AS VARCHAR),
                       'MDPA', c_mktsegment) AS grid_key
      FROM customer
    )
    SELECT grid_key, split_part(grid_key, '_', 2) AS obs_id
    FROM keyed
    WHERE len(string_split(grid_key, '_')) = 4
    """,
)
def p9_key_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    keyed = c.select(
        F.concat_ws(
            "_", F.lit("rainfall"), F.col("c_custkey").cast("string"),
            F.lit("MDPA"), F.col("c_mktsegment"),
        ).alias("grid_key")
    )
    return keyed.select(
        "grid_key", parse_grid_key(F.col("grid_key")).alias("obs_id")
    ).filter(F.col("obs_id").isNotNull())


# ---------------------------------------------------------------------------
# A1/W1 — adjacent difference over time per series (wrf_data_pusher.py:63-65).
@register(
    "w1_lag_diff",
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
           value - lag(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS diff
    FROM events
    QUALIFY diff IS NOT NULL
    """,
)
def w1_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = adjacent_diff(
        ev.withColumn("__ord", F.struct("ts", "event_id")),
        series_cols=["user_id"],
        order_col="__ord",
        value_col="value",
        out_col="diff",
    )
    return out.select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"), "diff",
    )


# A6/W2 — latest row per series, window form
# (get_latest_timeseries, gen_active_stations_rfields.py:191-193).
# Driver-gated through w2_latest_topk (compound row).
def w2_latest_per_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_per_series(
        ev, series_cols=["user_id"], version_cols=["ts", "event_id"]
    ).select(
        "user_id", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"), "value",
    )


# A6 join-form — semi-join against max(version) per series.
@register(
    "a6_latest_fgt_join",
    oracle="""
    SELECT e.user_id, e.event_type, e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS t, e.value
    FROM events e
    JOIN (SELECT user_id, event_type, max(ts) AS ts
          FROM events GROUP BY user_id, event_type) m
      ON e.user_id = m.user_id AND e.event_type = m.event_type
         AND e.ts = m.ts
    """,
)
def a6_latest_fgt_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return latest_per_series_join(
        ev, series_cols=["user_id", "event_type"], version_col="ts"
    ).select(
        "user_id", "event_type", "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"), "value",
    )


# W2 top-k per group — top 3 orders by totalprice per customer.
# Driver-gated through w2_latest_topk (compound row).
def w2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# W2 compound driver row: BOTH window-rank forms in one hash — the
# latest-per-series top-1 (events) and the top-k-per-group rank
# (orders), union-tagged.  One row per (op, grp, item).
@register(
    "w2_latest_topk",
    oracle="""
    SELECT 'latest' AS op, user_id AS grp, event_id AS item,
           value AS val, CAST(1 AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    UNION ALL
    SELECT 'topk', o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def w2_latest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    latest = w2_latest_per_series(spark, sf_dir).select(
        F.lit("latest").alias("op"),
        F.col("user_id").alias("grp"),
        F.col("event_id").alias("item"),
        F.col("value").alias("val"),
        F.lit(1).cast("long").alias("rnk"),
    )
    topk = w2_topk_per_group(spark, sf_dir).select(
        F.lit("topk").alias("op"),
        F.col("o_custkey").alias("grp"),
        F.col("o_orderkey").alias("item"),
        F.col("o_totalprice").alias("val"),
        F.col("rank").alias("rnk"),
    )
    return latest.unionByName(topk)


# W3/J4 — nearest-neighbour mapping by rank-over-distance
# (obs→d03 grid mapping, gen_active_stations_rfields.py:141-154).
# Generic form: nearest supplier per customer within the same nation,
# distance = |acctbal delta|.
@register(
    "w3_nearest_neighbor",
    oracle="""
    SELECT c_custkey, s_suppkey, rank, dist
    FROM (
      SELECT c.c_custkey, s.s_suppkey,
             abs(c.c_acctbal - s.s_acctbal) AS dist,
             row_number() OVER (PARTITION BY c.c_custkey
                                ORDER BY abs(c.c_acctbal - s.s_acctbal),
                                         s.s_suppkey) AS rank
      FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
    ) WHERE rank <= 2
    """,
)
def w3_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").withColumnRenamed(
        "s_nationkey", "nationkey"
    )
    return nearest_neighbor_map(
        c, s,
        left_key="c_custkey", right_key="s_suppkey",
        distance=F.abs(F.col("c_acctbal") - F.col("s_acctbal")),
        k=2, partition_cols=["nationkey"], tie_break=["s_suppkey"],
    )


# ---------------------------------------------------------------------------
# A2..A5 — grouped aggregation surface (TPC-H Q1 shape). The reference's
# only aggregations are mean/min/count (SURVEY §2.4); the engine exposes
# the full built-in agg surface. DECIMAL-summed for cross-engine
# bit-stability.
@register(
    "a1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1) - F.col("l_discount").cast(DEC)
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (_dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# A3 — min-reduction then interval shift: obs window start =
# min(time) - 10 minutes (gen_active_stations_rfields.py:203).
@register(
    "a3_obs_window_start",
    oracle="""
    SELECT user_id,
           strftime(min(ts) - INTERVAL '10 minutes',
                    '%Y-%m-%d %H:%M:%S') AS obs_start,
           count(*) AS n
    FROM events GROUP BY user_id
    """,
)
def a3_obs_window_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.date_format(
            F.min("ts") - F.expr("INTERVAL 10 MINUTES"), "yyyy-MM-dd HH:mm:ss"
        ).alias("obs_start"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# J1/R2 — iterated outer-merge becomes a single pivot: per (user, day),
# one column per event_type (gen_active_stations_rfields.py:195-213).
@register(
    "j1_pivot_sources",
    oracle="""
    SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
           CAST(sum(CASE WHEN event_type = 'view'
                    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "view"
    FROM events
    GROUP BY user_id, day
    """,
)
def j1_pivot_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("value").cast(DEC).alias("value"),
    )
    wide = pivot_by_source(
        ev,
        key_cols=["user_id", "day"],
        pivot_col="event_type",
        pivot_values=["click", "purchase", "view"],
        value_col="value",
        agg="sum",
    )
    return wide.select(
        "user_id", "day",
        F.col("click").cast("double").alias("click"),
        F.col("purchase").cast("double").alias("purchase"),
        F.col("view").cast("double").alias("view"),
    )


# J2 — left outer equi-join (forecast ⟕ obs on time,
# gen_active_stations_rfields.py:209).
@register(
    "j2_left_join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def j2_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# J3 — broadcast map-side lookup join (16k station dict,
# wrf_data_pusher.py:222,447): dim explicitly broadcast.
@register(
    "j3_broadcast_lookup",
    oracle="""
    SELECT p.p_brand,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j3_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# J5 — get-or-create dim MERGE: left-anti missing keys + deterministic
# dense id assignment (wrf_data_pusher.py:222-260).
@register(
    "j5_get_or_create",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS id,
             s_nationkey AS nationkey FROM supplier
    ),
    incoming AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
    missing AS (
      SELECT nationkey FROM incoming
      WHERE nationkey NOT IN (SELECT nationkey FROM dim)
    ),
    mx AS (SELECT coalesce(max(id), 0) AS m FROM dim),
    /* salted two-phase id order: bucket = md5-prefix hash of the key
       mod 64 (joins.get_or_create n_buckets default); global rank
       over (bucket, key) == the engine's per-bucket rank + cumulative
       bucket offsets */
    bkt AS (
      SELECT nationkey,
             ('0x' || substr(md5(CAST(nationkey AS VARCHAR)), 1, 8))::BIGINT
               % 64 AS bk
      FROM missing
    ),
    created AS (
      SELECT CAST(m + row_number() OVER (ORDER BY bk, nationkey)
                  AS BIGINT) AS id,
             nationkey
      FROM bkt, mx
    )
    SELECT id, nationkey FROM dim
    UNION ALL SELECT id, nationkey FROM created
    """,
)
def j5_get_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    dim = s.select(
        F.col("s_nationkey").cast("long").alias("id"),
        F.col("s_nationkey").alias("nationkey"),
    ).dropDuplicates(["nationkey"])
    incoming = c.select(F.col("c_nationkey").alias("nationkey"))
    return get_or_create(dim, incoming, key_cols=["nationkey"], id_col="id")


# full-outer join path (J1's physical form before the pivot rewrite).
# Driver-gated through u2_j1_outer_dropna (compound row).
def j1_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id").agg(_dsum("value").alias("click_v"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(_dsum("value").alias("purchase_v"))
    )
    return a.join(b, "user_id", "full_outer").select(
        F.coalesce(a.user_id, b.user_id).alias("user_id"), "click_v", "purchase_v"
    )


# J1-outer + U2 compound driver row: the full-outer join result (nulls
# preserved) and its dropna projection union-tagged — one hash checks
# both the outer-join null semantics and the reference's dropna
# contract.
@register(
    "u2_j1_outer_dropna",
    oracle="""
    WITH a AS (SELECT user_id,
                      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS click_v
               FROM events WHERE event_type = 'click' GROUP BY user_id),
         b AS (SELECT user_id,
                      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_v
               FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    fo AS (
      SELECT coalesce(a.user_id, b.user_id) AS user_id, a.click_v, b.purchase_v
      FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    )
    SELECT 'full' AS stage, user_id, click_v, purchase_v FROM fo
    UNION ALL
    SELECT 'dropna', user_id, click_v, purchase_v FROM fo
    WHERE click_v IS NOT NULL AND purchase_v IS NOT NULL
    """,
)
def u2_j1_outer_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    fo = j1_full_outer_join(spark, sf_dir)
    full = fo.select(F.lit("full").alias("stage"), "*")
    dropped = fo.na.drop("any").select(F.lit("dropna").alias("stage"), "*")
    return full.unionByName(dropped)


# U1 — union-all of per-slice frames (dataframe.append loop,
# gen_active_stations_rfields.py:216-220).
# Driver-gated through u1_u5_union_forms (compound row).
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") >= 200000).select(
        "o_orderkey", "o_totalprice", F.lit("high").alias("bucket")
    )
    lo = o.filter(F.col("o_totalprice") < 50000).select(
        "o_orderkey", "o_totalprice", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo)


# U1+U5 compound driver row: UNION ALL (bag) next to UNION DISTINCT
# (set) in one hash — the 'nation' branch deduplicates across two
# source tables, the high/low branches preserve duplicates.
@register(
    "u1_u5_union_forms",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS key, o_totalprice AS val, 'high' AS bucket
    FROM orders WHERE o_totalprice >= 200000
    UNION ALL
    SELECT CAST(o_orderkey AS BIGINT), o_totalprice, 'low'
    FROM orders WHERE o_totalprice < 50000
    UNION ALL
    SELECT CAST(nationkey AS BIGINT), CAST(NULL AS DOUBLE), 'nation' FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey FROM supplier
    )
    """,
)
def u1_u5_union_forms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy: u5_union_distinct lives in the expressions chunk, which
    # imports DEC/_dsum from here — a top-level import would cycle
    from .expressions import u5_union_distinct

    slices = u1_union_all(spark, sf_dir).select(
        F.col("o_orderkey").cast("long").alias("key"),
        F.col("o_totalprice").alias("val"),
        "bucket",
    )
    nations = u5_union_distinct(spark, sf_dir).select(
        F.col("nationkey").cast("long").alias("key"),
        F.lit(None).cast("double").alias("val"),
        F.lit("nation").alias("bucket"),
    )
    return slices.unionByName(nations)


# R1 — unpivot/melt via stack (grid wide→long, wrf_data_pusher.py:211-268).
@register(
    "r1_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value
    FROM lineitem WHERE l_orderkey <= 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
    FROM lineitem WHERE l_orderkey <= 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount
    FROM lineitem WHERE l_orderkey <= 1000
    """,
)
def r1_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return unpivot(
        li,
        id_cols=["l_orderkey", "l_linenumber"],
        value_cols=["l_quantity", "l_extendedprice", "l_discount"],
        var_name="measure",
        value_name="value",
    ).withColumn(
        "measure", F.regexp_replace("measure", "^l_", "")
    )


# O1/O2 — total-order contract: global row_number encodes the sort so
# the hash actually checks ordering (xy.csv alignment, gen_rfields.py:186).
# Driver-gated through a9_o1_percentiles_ranked (compound row).
def o1_total_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    # bounded: total-order contract IS the semantics; gated by
    # tests/test_plans_quality.py::test_no_unbounded_global_windows...
    w = Window.orderBy("p_retailprice", "p_partkey")
    return p.select(
        F.row_number().over(w).cast("long").alias("rn"), "p_partkey", "p_retailprice"
    )


# Q3-style join+agg+rank (exercises join reordering & partial aggs).
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # no hint on customer: it scales with SF (unbounded at 100 TB);
        # AQE broadcasts the filtered segment when measured-small
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join — the canonical timeseries operator Spark lacks natively
# (see operators.joins.asof_join: union-tag-window form, one shuffle).
# For each purchase, the user's latest click at-or-before it.
# Driver-gated through j6_j7_asof_range (compound row).
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join
    from ..operators.dedup import latest_per_series

    ev = load_table(spark, sf_dir, "events")
    clicks = latest_per_series(
        ev.filter(F.col("event_type") == "click"),
        series_cols=["user_id", "ts"], version_cols=["event_id"],
    ).select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_time="ts",
        right_time="ts", value_cols=["value"],
    )
    return out.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        "value", "asof_value",
        F.date_format("asof_time", "yyyy-MM-dd HH:mm:ss").alias("asof_t"),
    )


# A7+A8 compound driver row: distinct aggregates INSIDE a rollup — one
# query exercising both the multi-distinct rewrite (Expand) and the
# rollup grouping expansion at once.
@register(
    "a7_a8_distinct_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def a7_a8_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the multi-distinct + rollup rewrite Expands every input
    # row 9x BEFORE the partial aggregation, and the single-file scan
    # ran that on 3 tasks (profiled r14: ~3 CPU-s near-serial, wall
    # 3.1 -> 1.75 s with the input spread; no-op on wide 100 TB scans)
    li = spread(load_table(spark, sf_dir, "lineitem"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        _dsum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n"),
    )


# Set ops beyond union (absent in reference; exposed anyway).  Both
# INTERSECT and EXCEPT verified through one driver row (a `setop` tag
# column distinguishes them) to stay inside the driver's query budget.
@register(
    "u3_u4_intersect_except",
    oracle="""
    SELECT 'intersect' AS setop, custkey FROM (
      SELECT o_custkey AS custkey FROM orders
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    UNION ALL
    SELECT 'except' AS setop, custkey FROM (
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey FROM orders)
    """,
)
def u3_u4_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    c_rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    c_all = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    inter = o.intersect(c_rich).select(
        F.lit("intersect").alias("setop"), "custkey"
    )
    exc = c_all.exceptAll(o).distinct().select(
        F.lit("except").alias("setop"), "custkey"
    )
    return inter.unionByName(exc)


# §2.10 windows — tumbling 15-minute resample (the obs 15-min cadence,
# extract_obs_rain_15_min_ts): same plan batch or streaming.
@register(
    "s10_window_resample",
    oracle="""
    SELECT user_id,
           strftime(time_bucket(INTERVAL '15 minutes', ts)
                    + INTERVAL '15 minutes', '%Y-%m-%d %H:%M:%S') AS wend,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
           count(*) AS n
    FROM events GROUP BY user_id, wend
    """,
)
def s10_window_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.window("ts", "15 minutes").alias("w"))
        .agg(
            F.sum(F.col("value").cast(DEC)).cast("double").alias("v"),
            F.count("*").alias("n"),
        )
        .select(
            "user_id",
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("wend"),
            "v", "n",
        )
    )


# P10 — file-metadata scalar (fgt from file mtime,
# wrf_data_pusher.py:68-72): genuinely not expressible through the
# oracle's pre-registered views → rows-only check.
@register("p10_file_metadata")
def p10_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            F.col("_metadata.file_name").alias("file_name"),
            F.col("_metadata.file_modification_time").alias("mtime"),
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.date_format(
                F.from_utc_timestamp(F.max("mtime"), "Asia/Colombo"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("fgt_lk"),
        )
    )


# A9+O1 compound driver row: exact per-group percentiles (events,
# per user_id for a meaningful group count) with an O1-style global
# row_number over (p50, user_id) — the hash checks both interpolation
# and the total-order contract.  The global window runs over the
# |user_id| aggregate rows (bounded), not the fact table — same
# confinement argument as the original o1_total_order.
@register(
    "a9_o1_percentiles_ranked",
    oracle="""
    WITH pct AS (
      SELECT user_id,
             quantile_cont(value, 0.5) AS p50,
             quantile_cont(value, 0.9) AS p90,
             min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY user_id
    )
    SELECT row_number() OVER (ORDER BY p50, user_id) AS rn,
           user_id, p50, p90, vmin, vmax
    FROM pct
    """,
)
def a9_o1_percentiles_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pct = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    # bounded: one row per user AFTER aggregation; global rank is the
    # query's total-order contract (CI-gated allowlist entry)
    w = Window.orderBy("p50", "user_id")
    return pct.select(
        F.row_number().over(w).cast("long").alias("rn"),
        "user_id", "p50", "p90", "vmin", "vmax",
    )


# Sessionization: split each user's event stream into sessions at
# >30-minute gaps (lag + flag + running count), then aggregate per
# session — the canonical event-analytics window composition.  The gap
# condition is an integer microsecond comparison in BOTH engines
# (events carry sub-second precision; a seconds-floor on one side and
# an exact interval on the other could split a session differently
# within ~1 s of the boundary).
@register(
    "w4_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts::TIMESTAMP)
                    - lag(epoch_us(ts::TIMESTAMP)) OVER w
                    <= 1800 * 1000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id, session_no,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM sessions GROUP BY user_id, session_no
    """,
)
def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w) <= 1800 * 1_000_000,
            0,
        ).otherwise(1),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("session_value"),
    )


# Approximate aggregates (HLL / t-digest sketches). Sketch internals
# differ across engines, so the sketch VALUES cannot be hash-compared;
# instead each sketch is verified against its accuracy contract: the
# exact twin is computed alongside (hash-gated against DuckDB) and the
# sketch must land within tolerance of it — emitted as a boolean whose
# oracle form is literal TRUE. HLL merge is commutative max-of-registers
# (partition-order independent), and the within-tolerance predicate
# absorbs approx_percentile's merge-order sensitivity, so the booleans
# are stable across plans.
@register(
    "a10_approx_aggs",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS exact_p50,
           TRUE AS approx_parts_ok,
           TRUE AS approx_p50_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a10_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # The distinct aggregates and the percentile sketches deliberately
    # run as TWO aggregations joined on the 3-row group key: mixing a
    # DISTINCT aggregate (which plans an Expand) with
    # TypedImperativeAggregates (percentile / approx_percentile) in
    # one groupBy forces the whole aggregation onto the sort-based
    # fallback path — measured 7.3 s warm at sf0.1 for the combined
    # form vs ~0.3 s per piece; the split runs each family on its fast
    # path (hash-with-expand / ObjectHashAggregate) and rejoins 3 rows.
    dist = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )
    pct = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("exact_p50"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias(
            "approx_p50"
        ),
    )
    agg = dist.join(pct, "l_returnflag")
    return agg.select(
        "l_returnflag", "exact_parts", "exact_p50",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.10 * F.col("exact_parts")
        ).alias("approx_parts_ok"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.05 * F.abs(F.col("exact_p50"))
        ).alias("approx_p50_ok"),
    )


# Range/interval join (bucketized form — no equi-key needed at scale):
# for each purchase, clicks by ANY user in the preceding hour.
# Driver-gated through j6_j7_asof_range (compound row).
def j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    # microsecond precision: the event timestamps carry sub-second
    # parts, so boundary membership must not truncate to seconds
    us = lambda c: F.unix_micros(F.col(c))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        us("ts").alias("t_end"),
        (us("ts") - 3600 * 1_000_000).alias("t_start"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        us("ts").alias("click_ts"),
        F.col("value").cast(DEC).alias("click_v"),
    )
    joined = range_join(
        clicks, purchases,
        point_col="click_ts", lower_col="t_start", upper_col="t_end",
        bucket_width=3600 * 1_000_000,
    )
    counts = joined.groupBy("event_id", "t").agg(
        F.count("click_ts").alias("n_clicks"),
        F.sum("click_v").cast("double").alias("click_value"),
    )
    # left semantics: purchases with zero clicks in window still appear
    return (
        purchases.select("event_id", "t")
        .join(counts, ["event_id", "t"], "left")
        .select(
            "event_id", "t",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
            "click_value",
        )
    )


# J6+J7 compound driver row: both custom timeseries joins keyed by the
# same purchase rows — the as-of columns and the preceding-hour range
# aggregate joined on (event_id, t) into one hash.
@register(
    "j6_j7_asof_range",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
      ) WHERE rn = 1
    ),
    purchases AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    aj AS (
      SELECT p.event_id, p.user_id,
             strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS t, p.value,
             c.value AS asof_value,
             strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS asof_t
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND p.ts >= c.ts
    ),
    all_clicks AS (SELECT ts, value FROM events WHERE event_type = 'click'),
    rng AS (
      SELECT p.event_id,
             strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS t,
             count(c.ts) AS n_clicks,
             CAST(sum(CAST(c.value AS DECIMAL(18,2))) AS DOUBLE) AS click_value
      FROM purchases p
      LEFT JOIN all_clicks c
        ON c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
      GROUP BY p.event_id, t
    )
    SELECT a.event_id, a.user_id, a.t, a.value, a.asof_value, a.asof_t,
           r.n_clicks, r.click_value
    FROM aj a JOIN rng r ON a.event_id = r.event_id AND a.t = r.t
    """,
)
def j6_j7_asof_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    asof = j6_asof_join(spark, sf_dir)
    rng = j7_range_join(spark, sf_dir)
    return asof.join(rng, ["event_id", "t"]).select(
        "event_id", "user_id", "t", "value", "asof_value", "asof_t",
        "n_clicks", "click_value",
    )


# Cube + GROUPING() ids — the full grouping-sets surface next to the
# rollup in a7_a8_distinct_rollup. grouping_id bit order matches CUBE
# column order in both engines.  Driver-gated through
# a11_a12_cube_gsets (compound row).
def a11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        _dsum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n"),
    )


# Explicit GROUPING SETS (the general form rollup/cube specialize) with
# GROUPING() ids — the set list here is NOT a rollup prefix chain:
# {(rf,ls), (ls), ()} skips the (rf) level, which only GROUPING SETS
# can express.  One shuffle: Spark expands the sets map-side (Expand
# node) and aggregates once.
# Driver-gated through a11_a12_cube_gsets (compound row).
def a12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
        "l_returnflag", "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
        _dsum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n"),
    )


# A11+A12 compound driver row: CUBE and explicit GROUPING SETS results
# union-tagged into one hash (each side keeps its GROUPING() ids).
@register(
    "a11_a12_cube_gsets",
    oracle="""
    SELECT 'cube' AS form, l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets', l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT),
           CAST(grouping(l_linestatus) AS BIGINT),
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
           count(*)
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def a11_a12_cube_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cube = a11_cube(spark, sf_dir).select(F.lit("cube").alias("form"), "*")
    gsets = a12_grouping_sets(spark, sf_dir).select(
        F.lit("gsets").alias("form"), "*"
    )
    return cube.unionByName(gsets)
