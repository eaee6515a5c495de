"""Relational operator demos over the TPC-H-ish testdata.

These exercise the corpus-layer operator classes from SURVEY.md §2
(aggregation §2.3, top-k §2.4, joins §2.5, set ops §2.6) as native
Catalyst plans: map-side partial aggregation, broadcast joins for the
small dimensions, window top-k, anti/semi joins (the resume-filter
shape from §2.1).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import (
    duck_sum128,
    exact_scaled_int,
    fround,
    read,
    spark_sum64,
    spark_sum128,
    spread,
    spread_by,
)
from .kernels import docs

# Exact scaled-integer readings of the 2-dp money/value columns
# (operators/common.py: the exact-arithmetic aggregation discipline —
# no partition-order-dependent float aggregate feeds any output or
# filter in this module).
_QTY_C = exact_scaled_int("l_quantity")  # hundredths of a unit
_PRICE_C = exact_scaled_int("l_extendedprice")  # cents
_DISC_C = exact_scaled_int("l_discount")  # hundredths (0..10)
_TOTALPRICE_C = exact_scaled_int("o_totalprice")  # cents
_VALUE_C = exact_scaled_int("value")  # cents
_RETAIL_C = exact_scaled_int("p_retailprice")  # cents
_BAL_C = exact_scaled_int("c_acctbal")  # cents
# l_extendedprice * (1 - l_discount) in exact 1e-4-dollar units:
# cents * (100 - discount-hundredths), an int64 per row (<= ~1e9).
# For SMALL groups (q3: per-order) sum this directly; for whole-table
# groups (q1/q5) it is decomposed as 100*Σprice_c − Σ(price_c*disc_c)
# — two cents-scale int64 sums (fast codegen path, headroom bounds in
# common.py::spark_sum64) recombined exactly in decimal over the few
# output groups.
_DISC_PRICE_E4 = f"({_PRICE_C}) * (100 - {_DISC_C})"
_PRICE_DISC_E4 = f"({_PRICE_C}) * ({_DISC_C})"
# exact post-agg recombination (Spark side; per-group, so cost-free):
_REV_E4_FROM_PARTS = (
    "(CAST(_s_price_c AS DECIMAL(38,0)) * 100 - _s_price_disc)"
)


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: wide hash aggregation with partial/final stages
    (the reference's score-aggregation analogue at corpus scale).

    Money aggregates follow the exact-arithmetic discipline
    (operators/common.py): scan-level exact cents, exact int64 sums on
    the codegen fast path (the all-DECIMAL(38,0) form measured 1.8x
    slower in an interleaved A/B; headroom bounds in
    common.py::spark_sum64 — ANSI mode raises loudly on overflow),
    with the 1e-4-unit revenue DECOMPOSED into two cents-scale sums
    and recombined exactly in decimal over the six output groups; one
    identical IEEE double expression per output, floor-rounding
    last."""
    l = read(spark, sf_dir, "lineitem")
    s_qty = spark_sum64(_QTY_C)
    s_price = spark_sum64(_PRICE_C)
    s_disc = spark_sum64(_DISC_C)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST({s_qty} AS DOUBLE) / 100.0").alias("sum_qty"),
            F.expr(f"CAST({s_price} AS DOUBLE) / 100.0").alias("sum_base_price"),
            F.expr(spark_sum64(_PRICE_C)).alias("_s_price_c"),
            F.expr(spark_sum64(_PRICE_DISC_E4)).alias("_s_price_disc"),
            F.expr(
                fround(
                    f"CAST({s_qty} AS DOUBLE)"
                    " / CAST(count(l_quantity) AS DOUBLE) / 100.0",
                    4,
                )
            ).alias("avg_qty"),
            F.expr(
                fround(
                    f"CAST({s_disc} AS DOUBLE)"
                    " / CAST(count(l_discount) AS DOUBLE) / 100.0",
                    4,
                )
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .selectExpr(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            fround(f"CAST({_REV_E4_FROM_PARTS} AS DOUBLE) / 10000.0", 2)
            + " AS sum_disc_price",
            "avg_qty",
            "avg_disc",
            "count_order",
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       CAST({duck_sum128(_QTY_C)} AS DOUBLE) / 100.0 AS sum_qty,
       CAST({duck_sum128(_PRICE_C)} AS DOUBLE) / 100.0 AS sum_base_price,
       {fround(f"CAST({duck_sum128(_PRICE_C)} * 100 - {duck_sum128(_PRICE_DISC_E4)} AS DOUBLE) / 10000.0", 2)} AS sum_disc_price,
       {fround(f"CAST({duck_sum128(_QTY_C)} AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE) / 100.0", 4)} AS avg_qty,
       {fround(f"CAST({duck_sum128(_DISC_C)} AS DOUBLE) / CAST(count(l_discount) AS DOUBLE) / 100.0", 4)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """Join + aggregate + deterministic top-10 (sort/limit).  The
    top-10 orders on the EXACT integer revenue (1e-4-dollar units) —
    membership can't flake on a float-sum boundary; the dollar double
    is derived for output only."""
    c = read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read(spark, sf_dir, "orders")
    l = read(spark, sf_dir, "lineitem")
    # r07 join order (guide §3.1/§3.3): reduce orders through the
    # broadcast customer dimension FIRST (~1/5 survive the segment
    # filter), then join lineitem against the reduced key set — AQE
    # turns that join into a broadcast of the filtered keys when the
    # runtime size fits (it does at sf1.0: no lineitem shuffle at
    # all), and falls back to a sort-merge of a 5x smaller side at
    # cluster scale.  The old order shuffled all of lineitem against
    # ALL orders before the segment filter could drop anything.
    o_building = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey"
    )
    return (
        l.join(o_building, l.l_orderkey == o_building.o_orderkey)
        .groupBy("l_orderkey")
        # per-order groups: a handful of rows x ~1e9 per row — int64
        # safe at any corpus scale (common.py::spark_sum64)
        .agg(F.expr(spark_sum64(_DISC_PRICE_E4)).alias("_rev_e4"))
        .orderBy(F.desc("_rev_e4"), F.asc("l_orderkey"))
        .limit(10)
        .selectExpr(
            "l_orderkey",
            fround("CAST(_rev_e4 AS DOUBLE) / 10000.0", 2) + " AS revenue",
        )
    )


Q3_SQL = f"""
SELECT l_orderkey,
       {fround(f"CAST({duck_sum128(_DISC_PRICE_E4)} AS DOUBLE) / 10000.0", 2)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY {duck_sum128(_DISC_PRICE_E4)} DESC, l_orderkey ASC
LIMIT 10
"""


def q5_nation_revenue(spark, sf_dir):
    """Five-way join with broadcast dimension chain (region/nation/
    supplier are tiny: no shuffle for them)."""
    r = read(spark, sf_dir, "region")
    n = read(spark, sf_dir, "nation")
    s = read(spark, sf_dir, "supplier")
    l = read(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        # whole-table groups: decomposed int64 sums, exact decimal
        # recombination over the 25 output rows (see q1 / common.py)
        .agg(
            F.expr(spark_sum64(_PRICE_C)).alias("_s_price_c"),
            F.expr(spark_sum64(_PRICE_DISC_E4)).alias("_s_price_disc"),
            F.count("*").alias("line_count"),
        )
        .selectExpr(
            "r_name",
            "n_name",
            fround(f"CAST({_REV_E4_FROM_PARTS} AS DOUBLE) / 10000.0", 2)
            + " AS revenue",
            "line_count",
        )
    )


Q5_SQL = f"""
SELECT r_name, n_name,
       {fround(f"CAST({duck_sum128(_PRICE_C)} * 100 - {duck_sum128(_PRICE_DISC_E4)} AS DOUBLE) / 10000.0", 2)} AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def top3_orders_per_customer(spark, sf_dir):
    """The canonical top-k window (SURVEY §2.4: nbTopCandidates
    selection re-expressed as row_number over a partition).  r07: the
    scan is pre-partitioned on o_custkey when it carries fewer splits
    than the cluster (common.spread_by) — the window reuses the
    exchange, so the top-k sort parallelizes instead of running on the
    2 row-group-bound scan tasks."""
    o = spread_by(spark, read(spark, sf_dir, "orders"), "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        # no round(): o_totalprice is already an exact 2-dp decimal
        # stored as its nearest double — rounding was an identity, and
        # dropping it removes the engine-round() surface entirely
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("totalprice"), "rank")
    )


TOP3_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice AS totalprice, rank
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
) WHERE rank <= 3
"""


def customers_without_orders(spark, sf_dir):
    """Left-anti join — the checkpoint-resume filter shape (§2.1)."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


ANTI_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def big_spender_customers(spark, sf_dir):
    """Semi-join + aggregate subquery.  The HAVING threshold compares
    EXACT integer cents (a float sum straddling $300000 within an ulp
    is a row-membership flake — the class CORRECTNESS_r04 caught in
    corpus_report)."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders")
    big = (
        o.groupBy("o_custkey")
        .agg(F.expr(spark_sum64(_TOTALPRICE_C)).alias("_spend_c"))
        .filter(F.col("_spend_c") > 300000 * 100)
    )
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


SEMI_SQL = f"""
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_custkey IN (
  SELECT o_custkey FROM orders GROUP BY o_custkey
  HAVING {duck_sum128(_TOTALPRICE_C)} > 30000000
)
"""


def events_daily_by_type(spark, sf_dir):
    """Date-bucketed aggregation (streaming-style tumbling day window
    in batch form)."""
    e = read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.to_date(F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                f"CAST({spark_sum64(_VALUE_C)} AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
    )


EVENTS_DAILY_SQL = f"""
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events,
       CAST({duck_sum128(_VALUE_C)} AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY 1, 2
"""


def running_user_value(spark, sf_dir):
    """Ordered running aggregate per user (window frame).  The running
    sum accumulates EXACT integer cents: even with a deterministic
    frame order, engines associate float partial sums differently
    (DuckDB's segment tree vs Spark's sequential accumulate) — integer
    sums are associative, so the twin is exact.  Per-user int64
    headroom is $9.2e16 cumulative."""
    e = read(spark, sf_dir, "events")
    win = (
        "PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    return e.selectExpr(
        "user_id",
        "event_id",
        f"CAST(sum({_VALUE_C}) OVER ({win}) AS DOUBLE) / 100.0 AS running_value",
    )


RUNNING_SQL = f"""
SELECT user_id, event_id,
       CAST(sum({_VALUE_C}) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100.0 AS running_value
FROM events
"""


def order_priority_histogram(spark, sf_dir):
    o = read(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY o_orderpriority
"""


def part_type_stats(spark, sf_dir):
    """Grouping + multiple aggregates + having-style filter."""
    p = read(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.expr(
                fround(
                    f"CAST({spark_sum64(_RETAIL_C)} AS DOUBLE)"
                    " / CAST(count(p_retailprice) AS DOUBLE) / 100.0",
                    2,
                )
            ).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
        .filter(F.col("n_parts") > 5)
    )


PART_SQL = f"""
SELECT p_brand, count(*) AS n_parts,
       {fround(f"CAST({duck_sum128(_RETAIL_C)} AS DOUBLE) / CAST(count(p_retailprice) AS DOUBLE) / 100.0", 2)} AS avg_price,
       max(p_size) AS max_size
FROM part
GROUP BY p_brand
HAVING count(*) > 5
"""


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_nation_revenue": (q5_nation_revenue, Q5_SQL),
    "top3_orders_per_customer": (top3_orders_per_customer, TOP3_SQL),
    "customers_without_orders": (customers_without_orders, ANTI_SQL),
    "big_spender_customers": (big_spender_customers, SEMI_SQL),
    "events_daily_by_type": (events_daily_by_type, EVENTS_DAILY_SQL),
    "running_user_value": (running_user_value, RUNNING_SQL),
    "order_priority_histogram": (order_priority_histogram, PRIORITY_SQL),
    "part_type_stats": (part_type_stats, PART_SQL),
}


def union_dedup_keys(spark, sf_dir):
    """Set-op demo (SURVEY §2.6 node-set union): union two key
    projections, dropDuplicates."""
    o = read(spark, sf_dir, "orders")
    l = read(spark, sf_dir, "lineitem")
    a = o.select(F.col("o_orderkey").alias("orderkey"))
    b = l.select(F.col("l_orderkey").alias("orderkey"))
    return a.union(b).dropDuplicates(["orderkey"])


UNION_DEDUP_SQL = """
SELECT o_orderkey AS orderkey FROM orders
UNION
SELECT l_orderkey AS orderkey FROM lineitem
"""


def events_rollup(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets class)."""
    e = read(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                f"CAST({spark_sum64(_VALUE_C)} AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            "n_events",
            "total_value",
        )
    )


EVENTS_ROLLUP_SQL = f"""
SELECT coalesce(event_type, 'ALL') AS event_type,
       count(*) AS n_events,
       CAST({duck_sum128(_VALUE_C)} AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY ROLLUP (event_type)
"""

QUERIES["union_dedup_keys"] = (union_dedup_keys, UNION_DEDUP_SQL)
QUERIES["events_rollup"] = (events_rollup, EVENTS_ROLLUP_SQL)


def events_cube(spark, sf_dir):
    """CUBE over (event_type, weekday): full grouping-sets lattice."""
    e = read(spark, sf_dir, "events")
    base = e.select(
        "event_type", F.dayofweek("ts").alias("weekday"), "value"
    )
    return (
        base.cube("event_type", "weekday")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                f"CAST({spark_sum64(_VALUE_C)} AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("weekday").cast("bigint"), F.lit(-1)).alias("weekday"),
            "n_events",
            "total_value",
        )
    )


EVENTS_CUBE_SQL = f"""
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(dayofweek(ts) + 1 AS BIGINT), -1) AS weekday,
       count(*) AS n_events,
       CAST({duck_sum128(_VALUE_C)} AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY CUBE (event_type, dayofweek(ts))
"""


def repeat_customer_keys(spark, sf_dir):
    """INTERSECT: customers active in both halves of the order window."""
    o = read(spark, sf_dir, "orders")
    first = o.filter(F.col("o_orderdate") < "1998-01-01").select("o_custkey")
    second = o.filter(F.col("o_orderdate") >= "1998-01-01").select("o_custkey")
    return first.intersect(second)


INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
"""


def order_aging(spark, sf_dir):
    """Date/math scalar functions: age buckets, month extraction."""
    o = read(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.datediff(F.lit("2026-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("age_days"),
        # floor-form, not engine round() (string-vs-binary midpoint
        # divergence).  Residual risk, documented: log10 itself is a
        # libm call that MAY differ by 1 ulp between JVM and DuckDB —
        # the only remaining engine-divergent double surface in the
        # module (value-only, driver-green since r01); an ulp flip at
        # a .00005 boundary would show here first.
        F.expr(fround("log10(o_totalprice + 1)", 4)).alias("log_price"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("bigint").alias("key_mod7"),
    )


ORDER_AGING_SQL = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(month(o_orderdate) AS BIGINT) AS order_month,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS age_days,
       floor(log10(o_totalprice + 1) * 10000 + 0.5) / 10000 AS log_price,
       CAST(o_orderkey % 7 AS BIGINT) AS key_mod7
FROM orders
"""


def event_props_extract(spark, sf_dir):
    """JSON scalar extraction from the props column (map/json function
    class): pull the 'k' counter out of the JSON payload.  r07: spread
    the single-split events scan so the per-row JSON parse uses the
    cluster, not one task (guide §2.5)."""
    e = spread(spark, read(spark, sf_dir, "events").select("event_id", "props"))
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


PROPS_SQL = """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events
"""

QUERIES["events_cube"] = (events_cube, EVENTS_CUBE_SQL)
QUERIES["repeat_customer_keys"] = (repeat_customer_keys, INTERSECT_SQL)
QUERIES["order_aging"] = (order_aging, ORDER_AGING_SQL)
QUERIES["event_props_extract"] = (event_props_extract, PROPS_SQL)


def sessionize_events(spark, sf_dir):
    """Gap-based session windows (30 min) per user — the batch form of
    the stateful streaming operator (pipeline/sessionize.py)."""
    from ..pipeline.sessionize import sessionize_batch

    return sessionize_batch(read(spark, sf_dir, "events"))


SESSIONIZE_SQL = f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts), 1, -1000000000000)
                   OVER (PARTITION BY user_id ORDER BY ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST({duck_sum128(_VALUE_C)} AS DOUBLE) / 100.0 AS total_value
FROM s
GROUP BY user_id, session_id
"""

QUERIES["sessionize_events"] = (sessionize_events, SESSIONIZE_SQL)


def user_event_type_map(spark, sf_dir):
    """Map-function class (SURVEY §2.8 map_filter/map demos): per-user
    map of event_type -> count, then a keyed lookup out of the map."""
    e = read(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("event_type", "n")))
            ).alias("em")
        )
        .select(
            "user_id",
            F.coalesce(F.element_at("em", F.lit("click")), F.lit(0))
            .cast("bigint")
            .alias("click_events"),
            F.size("em").cast("bigint").alias("distinct_types"),
        )
    )


USER_EVENT_MAP_SQL = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
),
m AS (
  SELECT user_id, map_from_entries(list({'k': event_type, 'v': n})) AS em,
         count(*) AS distinct_types
  FROM c GROUP BY user_id
)
SELECT user_id,
       CAST(coalesce(em['click'][1], 0) AS BIGINT) AS click_events,
       CAST(distinct_types AS BIGINT) AS distinct_types
FROM m
"""

QUERIES["user_event_type_map"] = (user_event_type_map, USER_EVENT_MAP_SQL)


def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: correlated aggregate subquery via semi-join on
    a grouped HAVING, then join back for detail rows."""
    o = read(spark, sf_dir, "orders")
    l = read(spark, sf_dir, "lineitem")
    c = read(spark, sf_dir, "customer")
    big_orders = (
        l.groupBy("l_orderkey")
        # float sum is EXACT here: quantities are integer-valued
        # doubles (1..50), and integer-valued double addition never
        # rounds below 2^53 — order-independent, so the HAVING
        # threshold can't flake (audited in the r05 exact-arithmetic
        # sweep; the money sums in this module all converted to cents)
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(big_orders, o.o_orderkey == big_orders.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            # identity rounds dropped: o_totalprice is an exact 2-dp
            # double and total_qty an exact integer-valued sum
            F.col("o_totalprice").alias("totalprice"),
            F.col("total_qty").alias("total_qty"),
        )
    )


Q18_SQL = """
SELECT c_name, o_orderkey, o_totalprice AS totalprice,
       total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150) b
  ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def arrays_setops_demo(spark, sf_dir):
    """Array set operations (§2.6 demos: array_except/intersect/union)
    over per-document token arrays vs a fixed stopword list.  r07:
    ``regexp_extract_all('[^ ]+')`` replaces ``filter(split(...))`` —
    identical arrays (maximal non-space runs), but the filter() HOF ran
    interpreted per element; plus the spread-scan fix (guide §2.5)."""
    d = docs(spark, sf_dir)
    stop = "array('the','a','and','of','to','in')"
    toks = (
        "array_distinct(regexp_extract_all(lower(regexp_replace(text,"
        " '[^a-zA-Z0-9 ]', ' ')), '[^ ]+', 0))"
    )
    return d.selectExpr(
        "doc_id",
        f"CAST(size(array_intersect({toks}, {stop})) AS BIGINT) AS stopwords_present",
        f"CAST(size(array_except({toks}, {stop})) AS BIGINT) AS content_tokens",
        f"CAST(size(array_union({toks}, {stop})) AS BIGINT) AS union_size",
    )


ARRAYS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')), ' +'),
                                   x -> x <> '')) AS toks,
         ['the','a','and','of','to','in'] AS stop
  FROM documents
)
SELECT doc_id,
       CAST(len(list_intersect(toks, stop)) AS BIGINT) AS stopwords_present,
       CAST(len(list_filter(toks, x -> NOT list_contains(stop, x))) AS BIGINT) AS content_tokens,
       CAST(len(list_distinct(list_concat(toks, stop))) AS BIGINT) AS union_size
FROM t
"""

QUERIES["q18_large_volume_customers"] = (q18_large_volume_customers, Q18_SQL)
QUERIES["arrays_setops_demo"] = (arrays_setops_demo, ARRAYS_SQL)


def asof_last_purchase(spark, sf_dir):
    """As-of join (SURVEY §2.5): each event paired with the most recent
    prior-or-equal 'purchase' by the same user — the carry-forward
    window formulation, which at scale is a single sort within the
    user partition instead of an inequality join."""
    e = read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    asof_ts = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        asof_ts.alias("asof_purchase_ts"),
    )


ASOF_SQL = """
SELECT event_id, user_id, event_type,
       last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS asof_purchase_ts
FROM events
"""

QUERIES["asof_last_purchase"] = (asof_last_purchase, ASOF_SQL)


def events_range_join_buckets(spark, sf_dir):
    """Range join (SURVEY §2.5): events matched to value-range buckets
    via an inequality join against a tiny broadcast bucket table."""
    e = read(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [(0, 0.0, 100.0), (1, 100.0, 300.0), (2, 300.0, 700.0), (3, 700.0, 10e9)],
        "bucket_id INT, lo DOUBLE, hi DOUBLE",
    )
    return (
        e.join(
            F.broadcast(buckets),
            (e.value >= buckets.lo) & (e.value < buckets.hi),
        )
        .groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                f"CAST({spark_sum64(_VALUE_C)} AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
    )


RANGE_JOIN_SQL = f"""
WITH buckets(bucket_id, lo, hi) AS (
  VALUES (0, 0.0, 100.0), (1, 100.0, 300.0), (2, 300.0, 700.0), (3, 700.0, 10e9)
)
SELECT bucket_id, count(*) AS n_events,
       CAST({duck_sum128(_VALUE_C)} AS DOUBLE) / 100.0 AS total_value
FROM events JOIN buckets ON value >= lo AND value < hi
GROUP BY bucket_id
"""

QUERIES["events_range_join_buckets"] = (events_range_join_buckets, RANGE_JOIN_SQL)


def events_windowed_counts(spark, sf_dir):
    """Epoch-aligned 6-hour tumbling window aggregation — the batch
    twin of the watermarked streaming query in
    ``pipeline/streaming.py::run_windowed_stream`` (same window spec,
    so the stream's complete-mode output equals this exactly; the
    append-mode output equals this minus windows still open at the
    final watermark — both asserted in tests/test_streaming.py)."""
    e = read(spark, sf_dir, "events")
    w = F.window("ts", "6 hours")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr(
                f"CAST({spark_sum64(_VALUE_C)} AS DOUBLE) / 100.0"
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# Spark's window() buckets are epoch-aligned: start = floor(epoch/21600).
# DuckDB's to_timestamp() returns TIMESTAMP WITH TIME ZONE while Spark's
# window() emits naive TimestampType — CAST to naive TIMESTAMP so the
# driver's schema comparison matches (VERDICT r02 item 1).
WINDOWED_SQL = f"""
SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP) AS window_start,
       CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 + 21600 AS BIGINT)) AS TIMESTAMP) AS window_end,
       event_type,
       count(*) AS n_events,
       CAST({duck_sum128(_VALUE_C)} AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY 1, 2, 3
"""

QUERIES["events_windowed_counts"] = (events_windowed_counts, WINDOWED_SQL)


# Exact interpolated percentile, spelled out so BOTH engines run the
# IDENTICAL IEEE op sequence: built-in percentile()/quantile_cont()
# interpolate with engine-specific formulas (lo*(hi-rank)+hi*(rank-lo)
# vs lo+(hi-lo)*frac — last-ulp divergence feeding a rounder).  rank =
# (n-1)*p; the two neighbouring order statistics come from row_number.
_PCT_P = {"median_price": "0.5", "p90_price": "0.9"}


def _pct_lo_idx(p: str) -> str:
    return f"CAST(floor(CAST(n - 1 AS DOUBLE) * {p}) AS BIGINT)"


def _pct_out(tag: str) -> str:
    p = _PCT_P[tag]
    frac = (
        f"(CAST(n_orders - 1 AS DOUBLE) * {p}"
        f" - CAST(CAST(floor(CAST(n_orders - 1 AS DOUBLE) * {p}) AS BIGINT) AS DOUBLE))"
    )
    lo = f"CAST(_{tag}_lo AS DOUBLE)"
    hi = f"CAST(_{tag}_hi AS DOUBLE)"
    return fround(f"({lo} + ({hi} - {lo}) * {frac}) / 100.0", 2) + f" AS {tag}"


_STDDEV_OUT = (
    fround(
        "sqrt((CAST(_s2 AS DOUBLE)"
        " - CAST(_s1 AS DOUBLE) * CAST(_s1 AS DOUBLE) / CAST(n_orders AS DOUBLE))"
        " / CAST(n_orders - 1 AS DOUBLE)) / 100.0",
        2,
    )
    + " AS stddev_price"
)
_AVG_PRICE_OUT = (
    fround("CAST(_s1 AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0", 2)
    + " AS avg_price"
)


def order_price_stats(spark, sf_dir):
    """Exact statistical aggregates per order priority — mean, sample
    stddev, exact interpolated percentiles (p50/p90) — all derived
    from exact integer-cents aggregates (sum and sum-of-squares in
    128-bit; order statistics picked by row_number), with one
    identical IEEE expression per output in both engines
    (operators/common.py discipline).  On a real cluster swap the
    percentiles to approx_percentile when exactness isn't contractual;
    the moment-based mean/stddev shape is already one-pass."""
    o = read(spark, sf_dir, "orders")
    ranked = o.selectExpr(
        "o_orderpriority",
        f"{_TOTALPRICE_C} AS price_c",
        "CAST(row_number() OVER (PARTITION BY o_orderpriority"
        " ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn",
        "CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n",
    )
    aggs = [
        F.count("*").alias("n_orders"),
        F.expr(spark_sum64("price_c")).alias("_s1"),
        F.expr(spark_sum128("price_c * price_c")).alias("_s2"),
    ]
    for tag, p in _PCT_P.items():
        lo_idx = _pct_lo_idx(p)
        aggs.append(
            F.expr(
                f"max(CASE WHEN rn = {lo_idx} + 1 THEN price_c END)"
            ).alias(f"_{tag}_lo")
        )
        aggs.append(
            F.expr(
                f"max(CASE WHEN rn = least({lo_idx} + 2, n) THEN price_c END)"
            ).alias(f"_{tag}_hi")
        )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(*aggs)
        .selectExpr(
            "o_orderpriority",
            "n_orders",
            _AVG_PRICE_OUT,
            _STDDEV_OUT,
            _pct_out("median_price"),
            _pct_out("p90_price"),
        )
    )


ORDER_PRICE_STATS_SQL = f"""
WITH ranked AS (
  SELECT o_orderpriority,
         {_TOTALPRICE_C} AS price_c,
         CAST(row_number() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM orders
),
g AS (
  SELECT o_orderpriority,
         count(*) AS n_orders,
         {duck_sum128('price_c')} AS _s1,
         {duck_sum128('price_c * price_c')} AS _s2,
         max(CASE WHEN rn = {_pct_lo_idx('0.5')} + 1 THEN price_c END) AS _median_price_lo,
         max(CASE WHEN rn = least({_pct_lo_idx('0.5')} + 2, n) THEN price_c END) AS _median_price_hi,
         max(CASE WHEN rn = {_pct_lo_idx('0.9')} + 1 THEN price_c END) AS _p90_price_lo,
         max(CASE WHEN rn = least({_pct_lo_idx('0.9')} + 2, n) THEN price_c END) AS _p90_price_hi
  FROM ranked
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders,
       {_AVG_PRICE_OUT},
       {_STDDEV_OUT},
       {_pct_out('median_price')},
       {_pct_out('p90_price')}
FROM g
"""

QUERIES["order_price_stats"] = (order_price_stats, ORDER_PRICE_STATS_SQL)


# corr/covar from exact integer co-moments: n, Sx, Sy, Sxx, Syy, Sxy
# aggregated in 128-bit, the co-moment NUMERATORS (n*Sxy - Sx*Sy etc.)
# still formed in exact integer space (doing the subtraction in double
# is catastrophic cancellation AND order-dependent), then one identical
# double expression per output.
# Zero-variance guard (ADVICE r05): a degenerate stratum (all-equal
# balances or spends) makes _num_xx/_num_yy zero — x/0.0 is Infinity/
# NaN in Spark doubles (and floor()-to-int on it can raise under ANSI)
# while DuckDB's behavior differs; corr is undefined there, so both
# engines return NULL, matching what a builtin corr() would do.
_CORR_OUT = (
    "CASE WHEN _num_xx = 0 OR _num_yy = 0 THEN NULL ELSE "
    + fround(
        "CAST(_num_xy AS DOUBLE)"
        " / (sqrt(CAST(_num_xx AS DOUBLE)) * sqrt(CAST(_num_yy AS DOUBLE)))",
        4,
    )
    + " END AS bal_spend_corr"
)
_COVAR_OUT = (
    fround(
        "CAST(_num_xy AS DOUBLE)"
        " / (CAST(n_customers AS DOUBLE) * CAST(n_customers - 1 AS DOUBLE))"
        " / 10000.0",
        2,
    )
    + " AS bal_spend_covar"
)


def customer_value_correlation(spark, sf_dir):
    """Pearson correlation + sample covariance between account balance
    and total spend per market segment.  Still a single-pass aggregate
    shape (six exact 128-bit co-moment sums replace Spark's float
    streaming corr/covar state — same plan, map-side partials intact);
    outputs derive from the exact moments via one identical IEEE
    expression in both engines (operators/common.py discipline).
    Units: cents and cents² throughout, /1e4 to dollars² at the end
    (scale factors cancel inside corr)."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.expr(spark_sum64(_TOTALPRICE_C)).alias("spend_c")
    )
    pairs = c.join(spend, c.c_custkey == spend.o_custkey).selectExpr(
        "c_mktsegment", f"{_BAL_C} AS bal_c", "spend_c"
    )
    return (
        pairs.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.expr(spark_sum64("bal_c")).alias("_sx"),
            F.expr(spark_sum64("spend_c")).alias("_sy"),
            # per-row products cast to decimal BEFORE multiplying:
            # spend_c² overflows int64 once per-customer spend passes
            # ~$9.6e8 (decimal(38,0) carries it to ~1e38)
            F.expr("sum(CAST(bal_c AS DECIMAL(28,0)) * bal_c)").alias("_sxx"),
            F.expr("sum(CAST(spend_c AS DECIMAL(28,0)) * spend_c)").alias("_syy"),
            F.expr("sum(CAST(bal_c AS DECIMAL(28,0)) * spend_c)").alias("_sxy"),
        )
        .selectExpr(
            "c_mktsegment",
            "n_customers",
            # _sx/_sy are int64 sums — lift to decimal BEFORE the
            # products (long*long would overflow under ANSI)
            "CAST(n_customers AS DECIMAL(38,0)) * _sxy"
            " - CAST(_sx AS DECIMAL(38,0)) * _sy AS _num_xy",
            "CAST(n_customers AS DECIMAL(38,0)) * _sxx"
            " - CAST(_sx AS DECIMAL(38,0)) * _sx AS _num_xx",
            "CAST(n_customers AS DECIMAL(38,0)) * _syy"
            " - CAST(_sy AS DECIMAL(38,0)) * _sy AS _num_yy",
        )
        .selectExpr("c_mktsegment", "n_customers", _CORR_OUT, _COVAR_OUT)
    )


CUSTOMER_CORR_SQL = f"""
WITH spend AS (
  SELECT o_custkey, CAST({duck_sum128(_TOTALPRICE_C)} AS BIGINT) AS spend_c
  FROM orders GROUP BY o_custkey
),
pairs AS (
  SELECT c_mktsegment, {_BAL_C} AS bal_c, spend_c
  FROM customer JOIN spend ON c_custkey = o_custkey
),
g AS (
  SELECT c_mktsegment,
         count(*) AS n_customers,
         sum(bal_c) AS _sx,
         sum(spend_c) AS _sy,
         sum(CAST(bal_c AS HUGEINT) * bal_c) AS _sxx,
         sum(CAST(spend_c AS HUGEINT) * spend_c) AS _syy,
         sum(CAST(bal_c AS HUGEINT) * spend_c) AS _sxy
  FROM pairs
  GROUP BY c_mktsegment
),
m AS (
  SELECT c_mktsegment, n_customers,
         n_customers * _sxy - _sx * _sy AS _num_xy,
         n_customers * _sxx - _sx * _sx AS _num_xx,
         n_customers * _syy - _sy * _sy AS _num_yy
  FROM g
)
SELECT c_mktsegment, n_customers, {_CORR_OUT}, {_COVAR_OUT}
FROM m
"""

QUERIES["customer_value_correlation"] = (
    customer_value_correlation,
    CUSTOMER_CORR_SQL,
)


# -- at-least-once ingestion dedup (batch twin of the streaming op) ---------
# the driver corpus has no duplicate deliveries, so redelivery is
# SIMULATED deterministically: every event_id % 10 == 0 arrives twice
# (the non-vacuous-oracle rule — planted duplicates, like the planted
# embedding near-dups)
def events_dedup_replayed(spark, sf_dir):
    """Dedup of an at-least-once event feed: union the replayed subset,
    then keep ONE real delivery per event_id (arg-min by the full row
    ordering, one window over the event_id shuffle).  Column-wise min()
    would be cheaper but can FABRICATE a row when duplicate event_ids
    ever carry differing payloads (mixing one delivery's ts with
    another's value); the row_number pick always returns an actual
    delivered row, matching what the streaming twin keeps.  Streaming
    twin: pipeline/streaming.py::run_dedup_stream
    (dropDuplicatesWithinWatermark), equivalence pinned in
    tests/test_streaming.py."""
    e = read(spark, sf_dir, "events")
    replayed = e.filter(F.col("event_id") % 10 == 0)
    u = e.unionByName(replayed)
    w = Window.partitionBy("event_id")
    pick = Window.partitionBy("event_id").orderBy(
        "ts", "user_id", "event_type", "value"
    )
    return (
        u.withColumn("n_deliveries", F.count("*").over(w).cast("bigint"))
        .withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("event_id", "n_deliveries", "ts", "user_id", "event_type", "value")
    )


EVENTS_DEDUP_REPLAYED_SQL = """
WITH u AS (
  SELECT * FROM events
  UNION ALL
  SELECT * FROM events WHERE event_id % 10 = 0
)
SELECT event_id, n_deliveries, ts, user_id, event_type, value
FROM (
  SELECT *,
         CAST(count(*) OVER (PARTITION BY event_id) AS BIGINT) AS n_deliveries,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY ts, user_id, event_type, value) AS rn
  FROM u
)
WHERE rn = 1
"""

QUERIES["events_dedup_replayed"] = (events_dedup_replayed, EVENTS_DEDUP_REPLAYED_SQL)
