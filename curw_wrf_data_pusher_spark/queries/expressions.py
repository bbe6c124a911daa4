"""Expression-surface queries and TPC-H-shaped demos (split from
the former queries/generic.py monolith): null-safe equality, string
functions, hash/key strings, JSON + datetime extraction, conditional
expressions, salted aggregation (A13), table profiling (A14),
rolling stats (W5), fuzzy self-join (J8), SCD2 history build (K10),
and time-series gap fill (W6).  Registration order is load-bearing
(queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.keys import series_hash_id
from ..sources.lake import load_table, spread
from .registry import register
from .relational import DEC, _dsum


# Q5-shape: 6-table join chain — the join-reordering workout. Catalyst
# reorders + broadcasts the dims; only lineitem⋈orders shuffles.
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount").cast(DEC))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# Q18-shape: aggregate subquery driving a semi-join filter.
@register(
    "q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
          )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "o_orderkey")
        .agg(_dsum("l_quantity").alias("total_qty"))
    )


# Null-safe equality (<=> / IS NOT DISTINCT FROM) — null-handling
# semantics the outer-join pipelines depend on.
@register(
    "p11_null_safe_eq",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CASE WHEN user_id % 10 = 0 THEN NULL
                  ELSE user_id % 3 END AS grp
      FROM events WHERE event_type = 'signup'
    ),
    b AS (SELECT DISTINCT
             CASE WHEN user_id % 10 = 0 THEN NULL
                  ELSE user_id % 3 END AS grp
          FROM events WHERE event_type = 'error')
    SELECT a.user_id, a.grp
    FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
    """,
)
def p11_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grp = F.when(F.col("user_id") % 10 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 3
    )
    a = ev.filter(F.col("event_type") == "signup").select(
        "user_id", grp.alias("grp")
    )
    b = (
        ev.filter(F.col("event_type") == "error")
        .select(grp.alias("grp"))
        .distinct()
        .withColumnRenamed("grp", "bgrp")
    )
    return a.join(b, a.grp.eqNullSafe(b.bgrp)).select("user_id", "grp")


# P8+P12 compound driver row: the sha256 series-id hash (§1.1,
# wrf_data_pusher.py:230-248) and the string-function surface in one
# per-customer projection (join on c_custkey collapses to one scan —
# both sides are projections of the same table).
@register(
    "p8_p12_hash_strings",
    oracle="""
    SELECT c_custkey,
           sha256(concat_ws(':', 'evening_18:00', printf('%.6f', c_acctbal),
                            printf('%.6f', CAST(c_custkey AS DOUBLE)),
                            'WRF_A', 'v4', 'Precipitation', 'mm',
                            'Accumulative')) AS tms_id,
           upper(c_name) AS uname,
           substring(c_name, 3, 8) AS mid,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
           replace(c_name, '#', '-') AS repl,
           levenshtein(c_mktsegment, 'BUILDING') AS lev,
           length(c_name) AS nlen
    FROM customer
    """,
)
def p8_p12_hash_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        series_hash_id(
            F.lit("evening_18:00"),
            F.format_string("%.6f", F.col("c_acctbal")),
            F.format_string("%.6f", F.col("c_custkey").cast("double")),
            F.lit("WRF_A"), F.lit("v4"), F.lit("Precipitation"),
            F.lit("mm"), F.lit("Accumulative"),
        ).alias("tms_id"),
        F.upper("c_name").alias("uname"),
        F.substring("c_name", 3, 8).alias("mid"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("-")).alias("repl"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).cast("long").alias("lev"),
        F.length("c_name").cast("long").alias("nlen"),
    )


# Semi-structured JSON extraction + datetime-part surface (one driver
# row for both, to stay inside the driver's query budget; both operate
# per-event on events).  Day-of-week conventions differ (Spark:
# 1=Sunday; DuckDB: 0=Sunday) — normalized to ISO (1=Monday) on both
# sides.
@register(
    "p14_p15_json_datetime",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')::BIGINT AS k,
           count(*) OVER (PARTITION BY json_extract_string(props, '$.k')::BIGINT)
             AS k_freq,
           year(ts) AS y, month(ts) AS m, day(ts) AS d,
           hour(ts) AS h, minute(ts) AS mi,
           isodow(ts) AS iso_dow,
           week(ts) AS iso_week,
           dayofyear(ts) AS doy
    FROM events
    """,
)
def p14_p15_json_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.count("*").over(Window.partitionBy(k)).alias("k_freq"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.minute("ts").cast("long").alias("mi"),
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("long").alias("iso_dow"),
        F.weekofyear("ts").cast("long").alias("iso_week"),
        F.dayofyear("ts").cast("long").alias("doy"),
    )


# UNION with distinct semantics (vs u1's UNION ALL).
# Driver-gated through u1_u5_union_forms (compound row).
def u5_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct()


# Conditional-expression surface: CASE, nullif, coalesce, least,
# greatest — the scalar kernel the NULL-heavy pipelines lean on.
@register(
    "p16_conditional_exprs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS bucket,
           nullif(o_orderstatus, 'O') AS status_or_null,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
           least(o_totalprice, 150000.0) AS capped,
           greatest(o_totalprice - 100000.0, 0.0) AS excess
    FROM orders
    """,
)
def p16_conditional_exprs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 200000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("bucket"),
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_label"),
        F.least(F.col("o_totalprice"), F.lit(150000.0)).alias("capped"),
        F.greatest(F.col("o_totalprice") - 100000.0, F.lit(0.0)).alias("excess"),
    )


# Skew-salted aggregation (operators/skew.py): the two-phase
# groupBy(keys+salt) → groupBy(keys) plan must be value-identical to
# the plain one-phase GROUP BY — the oracle IS the plain form.  The
# event_type key is genuinely low-cardinality/hot (5 values over the
# whole fact table), exactly the shape salting exists for; DECIMAL
# sums make the two-phase recombination order-insensitive.
@register(
    "a13_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
           count(event_id) AS count_event_id,
           max(user_id) AS max_user_id
    FROM events GROUP BY event_type
    """,
)
def a13_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast(DEC).alias("v"),
        "event_id", "user_id",
    )
    out = salted_aggregate(
        ev, keys=["event_type"],
        aggs={"v": "sum", "event_id": "count", "user_id": "max"},
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.col("sum_v").cast("double").alias("sum_v"),
        "count_event_id", "max_user_id",
    )


# ---------------------------------------------------------------------------
# ANALYZE-style table profiling (one-scan column statistics) — tail
# row, oracle-gated locally by tests/test_oracle_parity.  Registered
# with exact_distinct=True (the cross-engine-comparable twin; the op's
# default is HLL approx_count_distinct for the 100 TB path, covered by
# unit tests against the exact form).
_PROFILE_COLS = [
    "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
    "l_shipdate",
]
_PROFILE_UNION = " UNION ALL ".join(
    f"""SELECT '{c}' AS "column", count(*) AS n_rows,
        count(*) - count({c}) AS n_nulls,
        (count(*) - count({c})) / count(*) AS null_frac,
        count(DISTINCT {c}) AS n_distinct,
        CAST(min({c}) AS VARCHAR) AS min_value,
        CAST(max({c}) AS VARCHAR) AS max_value
        FROM lineitem"""
    for c in _PROFILE_COLS
)


@register("a14_profile_table", oracle=_PROFILE_UNION)
def a14_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table

    li = load_table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    return profile_table(li, exact_distinct=True)


# ---------------------------------------------------------------------------
# Bounded-frame rolling statistics (ROWS BETWEEN k PRECEDING AND
# CURRENT ROW) — the sliding-window class distinct from lag/rank
# (unbounded-history) windows: partitioned by series, so it scales
# with the key distribution and passes the global-window CI gate by
# construction.  Tail row; tests/test_oracle_parity gates it locally.
@register(
    "w5_rolling_stats",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
           round(avg(value) OVER w, 9) AS roll_avg,
           round(sum(value) OVER w, 9) AS roll_sum,
           min(value) OVER w AS roll_min,
           max(value) OVER w AS roll_max,
           count(*) OVER w AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def w5_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        F.round(F.avg("value").over(w), 9).alias("roll_avg"),
        F.round(F.sum("value").over(w), 9).alias("roll_sum"),
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
        F.count("*").over(w).alias("roll_n"),
    )


# ---------------------------------------------------------------------------
# Edit-distance fuzzy self-join (entity resolution) — q-gram blocking
# + Levenshtein verify vs DuckDB's O(n²) levenshtein cross product.
# TPC-H customer names ("Customer#000000123") are the classic near-
# identical-key corpus: single-digit differences are distance-1 pairs.
# Tail row (oracle is quadratic by design; the engine side is the
# blocked form whose recall-1.0 argument lives in operators/fuzzy.py).
@register(
    "j8_fuzzy_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           levenshtein(a.c_name, b.c_name) AS distance
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def j8_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_pairs

    c = spread(load_table(spark, sf_dir, "customer")).select(
        "c_custkey", "c_name"
    )
    # n=4: digit 4-grams are ~10x rarer than trigrams on ID-like
    # names, shrinking prefix postings (blocking choice is invisible
    # to the oracle — recall stays 1.0 at any n)
    return fuzzy_self_pairs(
        c, id_col="c_custkey", text_col="c_name", max_distance=1, n=4
    )


# ---------------------------------------------------------------------------
# SCD type-2 history derivation from the event log: per user, the
# versioned history of event_type with validity intervals — change
# detection (lag) + version closing (lead) share ONE window exchange.
# Tail row; tests/test_oracle_parity gates it locally.
@register(
    "k10_scd2_history",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM c
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM ch
    """,
)
def k10_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_from_events

    ev = spread(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist = scd2_from_events(
        ev, ["user_id"], ["event_type"], "ts", tiebreak_col="event_id"
    )
    return hist.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss")
        .alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss")
        .alias("valid_to"),
        "is_current",
    )


# W6 — dense-grid gap filling with linear interpolation (the missing-
# timestep repair the reference's obs feed needs; pandas
# resample().interpolate() as distributed ops).  Hourly resample of the
# event log per user, then every missing hour between each user's first
# and last active hour is interpolated from its bracketing
# observations.  DECIMAL-sum resample makes the observed doubles
# bit-identical across engines, so the interpolation arithmetic agrees
# bit-for-bit UNROUNDED — round(6) would actually BREAK parity here:
# 2-decimal inputs x dyadic gap fractions land exactly on .5 rounding
# boundaries where the engines' double rounding differs by 1 ulp.
@register(
    "w6_gap_fill",
    oracle="""
    WITH r AS (
      SELECT user_id,
             floor(epoch(ts))::BIGINT // 3600 AS slot,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    s AS (SELECT user_id, min(slot) AS mn, max(slot) AS mx
          FROM r GROUP BY 1),
    g AS (SELECT user_id, unnest(generate_series(mn, mx, 1)) AS slot
          FROM s),
    j AS (SELECT g.user_id, g.slot, r.v
          FROM g LEFT JOIN r USING (user_id, slot)),
    f AS (
      SELECT user_id, slot, v,
        last_value(CASE WHEN v IS NOT NULL
                        THEN struct_pack(t := slot, x := v) END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        first_value(CASE WHEN v IS NOT NULL
                         THEN struct_pack(t := slot, x := v) END
                    IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY slot
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
      FROM j
    )
    SELECT user_id,
           strftime(make_timestamp(slot * 3600 * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS hour_start,
           CASE WHEN v IS NOT NULL THEN v
                /* parenthesized to mirror the Spark expression tree
                   exactly: a * (b / c), NOT SQL's default (a*b)/c —
                   the association changes the last ulp */
                ELSE p.x + (n.x - p.x)
                       * ((slot - p.t)::DOUBLE / (n.t - p.t)::DOUBLE)
           END AS value_filled,
           (v IS NULL) AS is_gap
    FROM f
    """,
)
def w6_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gap_fill

    ev = spread(load_table(spark, sf_dir, "events"))
    hourly = ev.groupBy(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / 3600)).cast("long").alias("slot"),
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("v"))
    filled = gap_fill(
        hourly, ["user_id"], slot_col="slot", value_col="v",
        method="linear",
    )
    return filled.select(
        "user_id",
        F.date_format(
            F.timestamp_seconds(F.col("slot") * 3600),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("hour_start"),
        "value_filled",
        "is_gap",
    )


