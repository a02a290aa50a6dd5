"""Declared queries: batch analytics surface (SURVEY §2.3 E23, E27, E28).

Cross-engine determinism: every aggregate over DOUBLE goes through exact
DECIMAL arithmetic (float summation order differs between Spark partitions
and DuckDB; decimal addition is associative) and is cast to DOUBLE only at
the end. Averages are computed as decimal-sum / count in double — one
deterministic division of two identical inputs. ORDER BY frontiers always
carry a unique tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from s4hanaconnector_spark.operators.relational import (
    equi_join,
    grouped_agg,
    top_k_per_group,
)
from s4hanaconnector_spark.queries.registry import register, scratch_root, t
from s4hanaconnector_spark.sources.partsupp import PARTSUPP_CTE
from s4hanaconnector_spark.streaming.core import drain

# exact-decimal helpers (Spark side)
_D = "decimal(18,2)"


def _dec(c):
    return F.col(c).cast(_D) if isinstance(c, str) else c.cast(_D)


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2)) * CAST(1 + l_tax AS DECIMAL(8,2))) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 flagship: TPC-H Q1 shape — scan-heavy groupBy with 8 aggregates.
    Partial (map-side) aggregation makes this shuffle only
    |groups| x |partitions| rows regardless of input size.

    Oracle note (found by the sf1 parity test): sum_charge is a scale-6
    decimal whose UNSCALED value passes 2^53 around 6M rows, and DuckDB's
    native DECIMAL->DOUBLE cast is not correctly rounded there (int->double
    then *1e-6: two roundings, observed 1 ULP off at sf1) while Spark's
    BigDecimal.doubleValue is. The oracle therefore round-trips that sum
    through VARCHAR (strtod is correctly rounded) — identical below 2^53,
    correct above. Applied to sum_disc_price too (scale 4, unscaled
    ~2.2e15 at sf1 — one scale tier below the same cliff). THE PATTERN
    for any oracle: when a decimal sum's unscaled value (value x 10^scale)
    can approach 2^53 ~ 9e15, emit CAST(CAST(sum(..) AS VARCHAR) AS
    DOUBLE); the sf1 parity gate exists to catch crossings."""
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    charge_f = (F.lit(1) + F.col("l_tax")).cast("decimal(8,2)")
    sum_qty = F.sum(_dec("l_quantity"))
    sum_price = F.sum(_dec("l_extendedprice"))
    sum_disc = F.sum(F.col("l_discount").cast("decimal(8,2)"))
    cnt = F.count(F.lit(1))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            sum_price.cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(_dec("l_extendedprice") * disc * charge_f).cast("double").alias("sum_charge"),
            (sum_qty.cast("double") / cnt).alias("avg_qty"),
            (sum_price.cast("double") / cnt).alias("avg_price"),
            (sum_disc.cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
SELECT l.l_orderkey,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
    headline=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter -> fact join -> agg ->
    top-k. customer is small relative to lineitem, so it is broadcast
    explicitly — at 100 TB the only shuffle left is the final groupBy."""
    from s4hanaconnector_spark.operators.relational import broadcast_if_small

    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01 00:00:00").cast("timestamp_ntz")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01 00:00:00").cast("timestamp_ntz")
    )
    # size-GUARDED hints: the segment customers and especially the
    # orders⋈customers intermediate GROW with the data — an unconditional
    # F.broadcast would force a fact-sized broadcast at 100 TB (AQE never
    # demotes an explicit hint); over the estimate the plan goes unhinted
    # and AQE picks broadcast vs shuffle from the true runtime size
    oc = o.join(
        broadcast_if_small(c.select("c_custkey")), o.o_custkey == c.c_custkey, "inner"
    )
    j = l.join(
        broadcast_if_small(oc.select("o_orderkey", "o_orderdate", "o_orderpriority")),
        l.l_orderkey == F.col("o_orderkey"),
        "inner",
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    headline=True,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join — every dimension broadcasts, the fact
    table never shuffles until the (tiny) final aggregate."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    from s4hanaconnector_spark.operators.relational import broadcast_if_small

    # nation⋈region stays a hard broadcast (bounded dimensions); the
    # customer-scale dims and orders-scale oc intermediates get the
    # size-guarded hint — they grow with the data (see q3)
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)), c.c_nationkey == F.col("n_nationkey"))
        .select("c_custkey", "n_name")
    )
    oc = o.join(broadcast_if_small(dims), o.o_custkey == F.col("c_custkey")).select("o_orderkey", "n_name")
    j = l.join(broadcast_if_small(oc), l.l_orderkey == F.col("o_orderkey"))
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    return j.groupBy("n_name").agg(
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue")
    )


@register(
    "agg_rollup",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: grouping sets via rollup — Expand + one shuffle, not one pass
    per grouping set."""
    return grouped_agg(
        t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        [
            ("sum", f"CAST(l_quantity AS {_D})", "__s"),
            ("count", "1", "n"),
        ],
        grouping="rollup",
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.col("__s").cast("double").alias("sum_qty"),
        "n",
    )


@register(
    "agg_cube",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: full cube over two low-cardinality keys."""
    return grouped_agg(
        t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        [("sum", f"CAST(o_totalprice AS {_D})", "__s"), ("count", "1", "n")],
        grouping="cube",
    ).select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("__s").cast("double").alias("sum_price"),
        "n",
    )


@register(
    "agg_count_distinct",
    """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: exact distinct aggregation (expands + two-phase agg)."""
    return grouped_agg(
        t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        [("count_distinct", "o_custkey", "n_customers"), ("count", "1", "n_orders")],
    )


@register(
    "agg_approx_count_distinct",
    """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers_exact,
       CAST(abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey)) * 10
            <= count(DISTINCT o_custkey) AS INT) AS approx_within_10pct
FROM orders GROUP BY o_orderpriority
""",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: HyperLogLog++ distinct — the 100 TB path where exact distinct
    would shuffle every key. Sketch VALUES differ between engines, so the
    gate checks the HLL's contract instead: each engine's own approximation
    must land within 10% of the exact distinct (default rsd is 5% on both,
    so the flag is deterministically 1 — and flips the hash red if either
    sketch ever drifts out of bound). Threshold stated division-free."""
    base = grouped_agg(
        t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        [
            ("count_distinct", "o_custkey", "n_customers_exact"),
            ("approx_count_distinct", "o_custkey", "n_customers_approx"),
        ],
    )
    return base.select(
        "o_orderpriority",
        "n_customers_exact",
        (
            F.abs(F.col("n_customers_approx") - F.col("n_customers_exact")) * 10
            <= F.col("n_customers_exact")
        )
        .cast("int")
        .alias("approx_within_10pct"),
    )


@register(
    "agg_distinct_sketch_merge",
    """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers_exact,
       CAST(1 AS INT) AS merged_within_10pct,
       CAST(1 AS INT) AS remerge_stable
FROM orders GROUP BY o_orderpriority
""",
)
def agg_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: MERGEABLE distinct sketches (Apache DataSketches HLL via
    Spark's hll_* expressions) — the verb exact COUNT DISTINCT lacks at
    100 TB: per-(priority, status) partial sketches build in one scan,
    then fold to per-priority counts by a pure state-union over
    |groups|-row KiB payloads — the map-side-combine / persist-partials-
    and-merge-at-query-time discipline (per-day sketches never rescan
    history; an append-only batch unions into stored state —
    operators/relational.py distinct_sketch/union_distinct_sketches/
    estimate_distinct). Two deterministic contract flags ride the hash
    gate: the merged estimate lands within 10% of exact (stated
    division-free), and re-merging the SAME partials through a different
    union tree yields the identical estimate (associativity — the
    property that makes sketch state safe to persist and fold in any
    order). Estimates are deterministic in the input set, so both flags
    are stable 1s until the sketch algebra itself drifts."""
    from s4hanaconnector_spark.operators.relational import (
        distinct_sketch,
        estimate_distinct,
        union_distinct_sketches,
    )

    o = t(spark, sf_dir, "orders")
    parts = distinct_sketch(
        o, ["o_orderpriority", "o_orderstatus"], "o_custkey"
    ).localCheckpoint(eager=False)  # partials feed three union trees
    p = parts.select("o_orderpriority", "sketch")
    one = estimate_distinct(
        union_distinct_sketches(p, ["o_orderpriority"]), out="__est1"
    )
    ua = union_distinct_sketches(
        parts.filter(F.col("o_orderstatus") == "O")
        .select("o_orderpriority", "sketch"),
        ["o_orderpriority"],
    )
    ub = union_distinct_sketches(
        parts.filter(F.col("o_orderstatus") != "O")
        .select("o_orderpriority", "sketch"),
        ["o_orderpriority"],
    )
    two = estimate_distinct(
        union_distinct_sketches(ua.unionByName(ub), ["o_orderpriority"]),
        out="__est2",
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers_exact")
    )
    return (
        exact.join(one, "o_orderpriority").join(two, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_customers_exact",
            (
                F.abs(F.col("__est1") - F.col("n_customers_exact")) * 10
                <= F.col("n_customers_exact")
            ).cast("int").alias("merged_within_10pct"),
            (F.col("__est1") == F.col("__est2")).cast("int").alias(
                "remerge_stable"
            ),
        )
    )


@register(
    "window_topk_per_customer",
    """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 3
""",
)
def window_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27: top-k per group via row_number with unique tiebreak."""
    return top_k_per_group(
        t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        3,
    )


@register(
    "window_running_sum",
    """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       lag(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
       rank() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS rk
FROM orders
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27: running totals, lag, rank over one window spec — single shuffle
    on the partition key serves all three."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.rank().over(w).alias("rk"),
    )


@register(
    "setops_customer_segments",
    """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT c_custkey FROM customer WHERE c_nationkey < 13
EXCEPT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
""",
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E28: union/intersect/except chain (SQL precedence: INTERSECT binds
    tighter; EXCEPT/INTERSECT are DISTINCT by default — ``subtract`` /
    ``intersect``, not the *All variants)."""
    c = t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    low_nation = c.filter(F.col("c_nationkey") < 13).select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return building.unionAll(rich.intersect(low_nation)).subtract(machinery)


@register(
    "events_tumbling_window",
    """
SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * 1000000) AS window_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 batch shape: 10-minute tumbling window aggregation. The epoch
    floor is written out explicitly so the bucketing is engine-agnostic;
    streaming variant in streaming/ uses F.window over the same semantics."""
    e = t(spark, sf_dir, "events")
    bucket = F.to_timestamp(
        (F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 600) * 600).cast("bigint")
    ).cast("timestamp_ntz")
    return (
        e.groupBy(bucket.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("value_sum"),
        )
    )


@register(
    "events_sessionize",
    """
WITH gaps AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTES
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
),
sessions AS (
    SELECT user_id, ts,
           sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM gaps
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions GROUP BY user_id, session_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + running sum — the
    batch analogue of session_window; one shuffle on user_id covers both
    window functions and the final aggregate."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # the running sum carries the SAME (ts, event_id) tiebreak as the lag
    # window: ts-only ordering makes session ids of duplicate-timestamp
    # rows depend on which row the engine orders first — order-dependent
    # and cross-engine divergent
    wrun = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    gaps = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES"))
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    sessions = gaps.select(
        "user_id", "ts", F.sum("is_new_session").over(wrun).cast("bigint").alias("session_id")
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "pivot_status_by_priority",
    """
SELECT o_orderpriority,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS total_O,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS total_F,
       CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS total_P
FROM orders GROUP BY o_orderpriority
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (never let pivot() discover values at
    100 TB — that is an extra full scan)."""
    o = t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum(_dec("o_totalprice")))
    )
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).cast("double").alias(f"total_{s}") for s in ["O", "F", "P"]],
    )


@register(
    "join_semi_priority_count",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
GROUP BY o_orderpriority
""",
)
def join_semi_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join — the probe
    side never widens, so only the (pre-filtered) orders shuffle. The
    lineitem predicate pushes into the scan before the join."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45.0)
    return (
        equi_join(
            o,
            li.select(F.col("l_orderkey").alias("o_orderkey")),
            on=["o_orderkey"],
            how="semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "join_anti_idle_customers",
    """
WITH cutoff AS (
    SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum, count(*) AS bal_n
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer, cutoff
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_n > bal_sum
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""",
)
def join_anti_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg balance, broadcast as a
    1-row cross join) + NOT EXISTS decorrelated to a LEFT ANTI join on the
    column-pruned o_custkey projection. The above-average test is stated
    division-free (bal * n > sum) so it is integer/decimal-exact in both
    engines — avg() would round differently per engine at the frontier."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    cutoff = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(_dec("c_acctbal")).alias("bal_sum"),
        F.count(F.lit(1)).alias("bal_n"),
    )
    rich = c.crossJoin(F.broadcast(cutoff)).filter(
        _dec("c_acctbal") * F.col("bal_n") > F.col("bal_sum")
    )
    idle = equi_join(
        rich,
        o.select(F.col("o_custkey").alias("c_custkey")),
        on=["c_custkey"],
        how="anti",
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
    )


@register(
    "join_agg_small_qty_revenue",
    """
WITH per_part AS (
    SELECT l_partkey,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
           count(*) AS qty_n
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
       count(*) AS n_lineitems
FROM lineitem l JOIN per_part p ON l.l_partkey = p.l_partkey
WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * p.qty_n * 5 < p.qty_sum
""",
    headline=True,
)
def join_agg_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate decorrelated to agg-before-join
    — the per-part average is computed once (map-side partial agg), then a
    single equi-join applies the threshold. Never a per-row subquery. The
    `qty < 0.2 * avg` test is stated division-free (qty * n * 5 < sum) so
    the frontier is decimal-exact in both engines."""
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_n"),
    )
    return (
        equi_join(li, per_part, on=["l_partkey"], how="inner")
        .filter(_dec("l_quantity") * F.col("qty_n") * 5 < F.col("qty_sum"))
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "agg_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: explicit GROUPING SETS — per-status totals, per-priority totals
    and the grand total in ONE pass (the planner expands to a single
    shuffle; three separate groupBys would scan the table three times).
    Status/priority are non-null in the fixture, so subtotal NULLs are
    unambiguous without grouping_id."""
    o = t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
    )


@register(
    "agg_percentiles",
    """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(max(o_totalprice), 4) AS p100
FROM orders GROUP BY o_orderstatus
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` definition-for-definition; rounded so the last
    ulp of the interpolation cannot differ). At 100 TB prefer
    ``approx_percentile`` — exact percentile keeps per-group value buffers."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.round(F.max("o_totalprice"), 4).alias("p100"),
    )


@register(
    "window_lag_lead_gaps",
    """
WITH x AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
           dense_rank() OVER (PARTITION BY user_id ORDER BY ts) AS ts_rank
    FROM events
)
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(coalesce(date_diff('microsecond', prev_ts, ts), -1) AS BIGINT) AS us_since_prev,
       CAST(coalesce(date_diff('microsecond', ts, next_ts), -1) AS BIGINT) AS us_to_next,
       ts_rank
FROM x
""",
)
def window_lag_lead_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27: lag/lead/dense_rank over per-user event-time order — inter-event
    gaps (microseconds), the building block of sessionization. One shuffle on
    the partition key; the window sort rides the shuffle's local sort."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wr = W.partitionBy("user_id").orderBy("ts")
    # TIMESTAMP_NTZ does not cast to numeric; timestamp_diff handles it.
    # Gaps in MICROSECONDS: at second granularity Spark truncates the real
    # difference while DuckDB counts boundary crossings — microseconds are
    # exact on the us-aligned fixtures, so both engines agree bit-for-bit
    gap_prev = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts")).cast("bigint")
    gap_next = F.timestamp_diff("MICROSECOND", F.col("ts"), F.lead("ts").over(w)).cast("bigint")
    return e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.coalesce(gap_prev, F.lit(-1)).alias("us_since_prev"),
        F.coalesce(gap_next, F.lit(-1)).alias("us_to_next"),
        F.dense_rank().over(wr).cast("bigint").alias("ts_rank"),
    )


@register(
    "q6_forecast_revenue",
    """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)
           AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24.0
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + global agg — the
    pushdown stress test: every predicate must reach the parquet reader and
    the scan reads only 4 columns of 11."""
    l = t(spark, sf_dir, "lineitem")
    f = l.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return f.agg(
        F.sum(_dec("l_extendedprice") * F.col("l_discount").cast("decimal(8,2)"))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q10_returned_revenue",
    """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE)
           AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer — fact filtered
    on returnflag, three broadcast dims, top-20 by revenue. The lineitem
    side never shuffles until the final (customer-sized) aggregate."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    from s4hanaconnector_spark.operators.relational import broadcast_if_small

    # nation is a bounded dim (hard broadcast); the customer-scale cn and
    # the 3-month-orders oc intermediates grow with the data (see q3)
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    oc = o.join(broadcast_if_small(cn), o.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "c_custkey", "c_name", "n_name"
    )
    j = l.join(broadcast_if_small(oc), l.l_orderkey == F.col("o_orderkey"))
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
SELECT CAST(100.00 AS DOUBLE) * CAST(
           sum(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE)
       AS promo_revenue_pct,
       count(*) AS n
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact-dim join —
    part is broadcast, the CASE folds into the single aggregate pass. The
    one double division happens once, on two engine-identical decimals."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    disc_price = _dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return j.agg(
        (
            F.lit(100.00).cast("double")
            * F.sum(promo).cast("double")
            / F.sum(disc_price).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q18_large_volume_orders",
    """
WITH big AS (
    SELECT l_orderkey
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > CAST(150 AS DECIMAL(18,2))
)
SELECT o.o_orderkey, o.o_custkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders o
JOIN big ON big.l_orderkey = o.o_orderkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
ORDER BY total_qty DESC, o.o_orderkey
LIMIT 20
""",
    headline=True,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join-back.
    The per-order quantity sum is aggregated ONCE (map-side partials) and
    reused both as the HAVING filter and as the output total — the literal
    Q18 text aggregates lineitem a second time after joining orders, but
    the second aggregate is the same sum, so one scan + one shuffle
    replaces two of each. The surviving key set joins orders via the
    size-guarded broadcast hint (broadcast_if_small: over the estimate
    threshold the hint is dropped and AQE picks the join from true runtime
    size). Never a correlated subquery."""
    from s4hanaconnector_spark.operators.relational import broadcast_if_small

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("__q"))
        .filter(F.col("__q") > F.lit(150).cast("decimal(18,2)"))
        .select(F.col("l_orderkey").alias("o_orderkey"), F.col("__q"))
    )
    return (
        o.join(broadcast_if_small(big), on="o_orderkey", how="inner")
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("__q").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q17_small_quantity_revenue",
    """
WITH sel AS (
    SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2' AND p.p_type = 'ECONOMY'
), stats AS (
    SELECT l_partkey,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
           count(*) AS cnt
    FROM sel GROUP BY l_partkey
)
SELECT CAST(CAST(sum(CAST(s.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly,
       count(*) AS n
FROM sel s JOIN stats t ON s.l_partkey = t.l_partkey
WHERE CAST(s.l_quantity AS DECIMAL(18,2)) * 5 * t.cnt < t.sum_qty
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average as a window-free
    agg-and-join-back. The literal text runs `l_quantity < 0.2 * avg(...)`
    as a correlated scalar subquery per lineitem; here the part filter is
    broadcast into lineitem FIRST (the per-part average only ever needs the
    lineitems of the selected parts), then ONE per-partkey aggregate feeds
    both the threshold and the final sum — one lineitem scan, one shuffle.
    The 0.2x threshold is exact integer-cross-multiplied
    (5 * qty * cnt < sum_qty), never a float division, so Spark and the
    oracle agree bit-for-bit."""
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#2") & (F.col("p_type") == "ECONOMY")
    )
    l = t(spark, sf_dir, "lineitem")
    sel = l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    stats = sel.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    j = sel.join(F.broadcast(stats), on="l_partkey").filter(
        _dec("l_quantity") * F.lit(5) * F.col("cnt") < F.col("sum_qty")
    )
    return j.agg(
        (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).cast("double").alias("avg_yearly"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "supplier_nation_stats",
    """
SELECT n.n_name,
       count(*) AS n_suppliers,
       CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
       CAST(max(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def supplier_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23 over the supplier dimension: per-nation supplier stats (the
    catalog-side rollup a replication admin checks after an initial load)."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(_dec("s_acctbal")).cast("double").alias("total_bal"),
            F.max(_dec("s_acctbal")).cast("double").alias("max_bal"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H join/agg shapes, continued (E4 + E23 at 100 TB join topology)
# ---------------------------------------------------------------------------


@register(
    "q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue, count(*) AS n
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2)) AS volume
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
) v
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Nation is broadcast into supplier AND customer, shrinking both to 8%
    before they touch a fact table; lineitem<->orders stays a shuffle join
    on orderkey (both facts — at 100 TB neither side broadcasts; AQE may
    still demote it at small SF)."""
    n1 = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = t(spark, sf_dir, "orders").join(
        c, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "cust_nation")
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    j = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (_dec("l_extendedprice") * disc).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum("volume").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q8_market_share",
    """
SELECT o_year,
       CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(sum(volume) AS DOUBLE) AS mkt_share,
       count(*) AS n
FROM (
    SELECT year(o.o_orderdate) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2)) AS volume,
           n2.n_name AS nation
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) v
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one part
    type, by order year. part (filtered to 1/6th) broadcasts into lineitem
    FIRST — the most selective cut happens before the orderkey shuffle; the
    supplier->nation label rides along as a broadcast. Share = one double
    division of two engine-identical decimal sums (see q14)."""
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    ns = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nc = (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    c = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    l = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.year("o_orderdate").alias("o_year"),
        (_dec("l_extendedprice") * disc).alias("volume"),
        "nation",
    )
    target = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return j.groupBy("o_year").agg(
        (F.sum(target).cast("double") / F.sum("volume").cast("double")).alias("mkt_share"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q9_product_profit",
    f"""
WITH {PARTSUPP_CTE}
SELECT nation, o_year, CAST(CAST(sum(amount) AS VARCHAR) AS DOUBLE) AS sum_profit,
       count(*) AS n
FROM (
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))
           - CAST(ps.ps_supplycost_cents AS DECIMAL(18,0)) * CAST('0.01' AS DECIMAL(3,2))
             * CAST(l.l_quantity AS DECIMAL(8,2)) AS amount
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
) v
GROUP BY nation, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (true 6-way shape): profit on 'red'
    parts by supplier nation and order year, with ps_supplycost from the
    derived partsupp bridge (sources/partsupp.py — row-local explode,
    identical in both engines). The cost stays exact: integer cents * a
    DECIMAL(3,2) 0.01 literal (multiplication, never division — the two
    engines' decimal-division scale rules differ); the sum crosses to
    DOUBLE via VARCHAR in the oracle (DuckDB's DECIMAL->DOUBLE cast is
    1 ULP off past 2^53, found at sf1). Plan: part-name filter
    and the 4-rows-per-part bridge broadcast into lineitem before the
    lineitem<->orders shuffle."""
    from s4hanaconnector_spark.operators.relational import broadcast_if_small
    from s4hanaconnector_spark.sources.partsupp import derive_partsupp

    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select("p_partkey")
    ps = derive_partsupp(spark, sf_dir).join(
        F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey")
    )
    ns = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplycost = F.col("ps_supplycost_cents").cast("decimal(18,0)") * F.lit(
        "0.01"
    ).cast("decimal(3,2)")
    l = (
        t(spark, sf_dir, "lineitem")
        .join(
            # grows as 4 x |red parts| — a dimension-class set, but derived:
            # size-guarded hint, AQE decides from the true size beyond it
            broadcast_if_small(
                ps.select("ps_partkey", "ps_suppkey", supplycost.alias("supplycost"))
            ),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    amount = _dec("l_extendedprice") * disc - F.col("supplycost") * F.col(
        "l_quantity"
    ).cast("decimal(8,2)")
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount")
    )
    return j.groupBy("nation", "o_year").agg(
        F.sum("amount").cast("string").cast("double").alias("sum_profit"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q13_customer_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
    GROUP BY c.c_custkey
) v
GROUP BY c_count
""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count histogram over customers, keeping the
    zero-order customers (LEFT join with the filter INSIDE the join
    condition, not a WHERE — a WHERE would silently drop them). Two
    shuffles: custkey agg, then the tiny c_count histogram."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    j = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the quarter's max revenue. The
    scalar max is computed once and broadcast-crossed back (never a
    partition-less window over all suppliers); the tie frontier compares
    EXACT decimals, so both engines keep identical suppliers."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * disc).alias("__rev")
    )
    mx = rev.agg(F.max("__rev").alias("__mx"))
    top = rev.join(F.broadcast(mx), F.col("__rev") == F.col("__mx")).select(
        "supplier_no", "__rev"
    )
    s = t(spark, sf_dir, "supplier")
    from s4hanaconnector_spark.operators.relational import broadcast_if_small

    return (
        s.join(broadcast_if_small(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name", F.col("__rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@register(
    "q19_disjunctive_revenue",
    """
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5  AND l.l_quantity >= 1  AND l.l_quantity <= 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity >= 10 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 20 AND l.l_quantity <= 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (adapted: brand/size/quantity stand in for the
    missing container/shipmode columns): disjunctive mixed-side predicate.
    The part-only half of each disjunct is manually pushed below the join
    (Catalyst cannot split an OR across tables), so only 3 brands' parts
    are ever broadcast; the full OR is re-applied after the join."""
    part_pre = (
        (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
    ) | (
        (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
    ) | (
        (F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
    )
    p = t(spark, sf_dir, "part").filter(part_pre).select("p_partkey", "p_brand", "p_size")
    l = t(spark, sf_dir, "lineitem")
    j = l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    full = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    return j.filter(full).agg(
        F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "streaming_tumbling_revenue",
    """
SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS window_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events
GROUP BY 1, 2
""",
)
def streaming_tumbling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24+E26 through the REAL streaming engine, not a batch lookalike:
    file source -> watermarked 30-min tumbling windows -> AvailableNow
    trigger -> memory sink, run to completion and returned as a batch
    DataFrame. The plan that runs here is the one a 24/7 deployment runs
    (state store, micro-batches, exactly-once sink protocol); complete
    output mode makes the final window set equal to the batch aggregate,
    which is exactly what the oracle computes."""
    from s4hanaconnector_spark.catalog import load_table_stream
    from s4hanaconnector_spark.streaming.core import (
        run_available_now,
        tumbling_window_agg,
    )

    # watermarks demand TIMESTAMP (an instant); with the session pinned to
    # UTC the ntz->ltz cast is identity, reversed below on the window bound
    ev = load_table_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = tumbling_window_agg(
        ev,
        "ts",
        "30 minutes",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__vs"),
        ],
    )
    res = run_available_now(agg, "streaming_tumbling_revenue")
    return res.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        F.col("__vs").cast("double").alias("value_sum"),
    )


@register(
    "asof_error_last_click",
    """
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS click_id,
       r.value AS click_value,
       date_diff('microsecond', r.ts, l.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT user_id, ts, event_id, value
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
    headline=True,
)
def asof_error_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively): every error event picks
    up the user's most recent preceding click. Implemented as the
    union+running-window rewrite in operators/asof.py — one shuffle on
    user_id, no row-pair explosion — and oracle-checked against DuckDB's
    native ASOF LEFT JOIN. Gap emitted in microseconds (fixtures are
    µs-aligned, so both engines are exact)."""
    from s4hanaconnector_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    errors = ev.filter(F.col("event_type") == "error")
    res = asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload={"event_id": "click_id", "value": "click_value", "ts": "click_ts"},
        right_tiebreak="event_id",
    )
    return res.select(
        "event_id",
        "user_id",
        "ts",
        "click_id",
        "click_value",
        F.timestamp_diff("MICROSECOND", F.col("click_ts"), F.col("ts")).alias("gap_us"),
    )


@register(
    "profile_orders",
    """
SELECT count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderpriority) AS n_priorities,
       count(*) - count(o_totalprice) AS n_null_totalprice,
       strftime(min(o_orderdate), '%Y-%m-%d') AS min_orderdate,
       strftime(max(o_orderdate), '%Y-%m-%d') AS max_orderdate,
       min(o_totalprice) AS min_totalprice,
       max(o_totalprice) AS max_totalprice
FROM orders
""",
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profiling in ONE pass: row count, key cardinalities,
    null counts and min/max ranges computed in a single aggregation (no
    per-metric scans — the profiler shape that still works when the table
    is 100 TB). min/max of doubles are order-insensitive (no summation),
    dates emit as ISO strings, so every output cell is exact."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        F.count_distinct(F.col("o_orderpriority")).alias("n_priorities"),
        (F.count(F.lit(1)) - F.count(F.col("o_totalprice"))).alias("n_null_totalprice"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_orderdate"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_orderdate"),
        F.min("o_totalprice").alias("min_totalprice"),
        F.max("o_totalprice").alias("max_totalprice"),
    )


@register(
    "q4_late_shipment_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1995-01-01' AND o.o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""",
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (commit/receipt dates absent -> 'shipped more than
    90 days after ordering' stands in for 'received after committed'):
    EXISTS decorrelates to a LEFT SEMI join with a mixed-side residual
    predicate — the semi join keeps each order at most once no matter how
    many late lines it has, then a single hash aggregation counts by
    priority. The orders date filter pushes to the parquet scan."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q22_wealthy_inactive",
    """
WITH pos AS (SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS b FROM customer WHERE c_acctbal > 0.0),
stats AS (SELECT sum(b) AS s, count(*) AS n FROM pos)
SELECT c.c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c, stats
WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * stats.n > stats.s
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_nationkey
""",
)
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone prefixes absent -> nationkey groups; 'no
    orders' is never true in the dense fixtures -> 'no URGENT orders'):
    scalar-subquery threshold + anti join. The global average arrives as a
    broadcast 1-row aggregate and the comparison is division-free
    (balance·n > sum in exact DECIMAL — both engines agree bit-for-bit,
    where a double division could flip the frontier); the NOT EXISTS
    decorrelates to a LEFT ANTI join on the filtered urgent-orders key
    projection."""
    cust = t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    stats = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.sum(bal).alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cust.crossJoin(F.broadcast(stats))
        .filter(bal * F.col("__n") > F.col("__s"))
        .join(urgent, on="c_custkey", how="anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


@register(
    "streaming_stream_stream_join",
    """
SELECT c.u AS user_id, c.cid AS click_id, e.eid AS error_id,
       date_diff('microsecond', c.cts, e.ets) AS gap_us
FROM (SELECT user_id u, ts cts, event_id cid FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id u2, ts ets, event_id eid FROM events WHERE event_type = 'error') e
  ON c.u = e.u2 AND e.ets BETWEEN c.cts AND c.cts + INTERVAL 1 HOUR
""",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join through the real engine: the
    click stream joins the error stream on user with a 1-hour time-range
    constraint. Both sides carry watermarks, and the range condition is
    what lets the state store evict: a buffered click older than
    watermark - 1 h can never match a future error, so state is bounded by
    the window, not the stream length (the canonical Structured Streaming
    join contract). Inner joins emit eagerly, so AvailableNow termination
    yields exactly the batch theta-join the oracle runs."""
    from s4hanaconnector_spark.catalog import load_table_stream
    from s4hanaconnector_spark.streaming.core import run_available_now

    ev = load_table_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("u"),
            F.col("ts").alias("cts"),
            F.col("event_id").alias("cid"),
        )
        .withWatermark("cts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("u2"),
            F.col("ts").alias("ets"),
            F.col("event_id").alias("eid"),
        )
        .withWatermark("ets", "1 hour")
    )
    joined = clicks.join(
        errors,
        F.expr("u = u2 AND ets >= cts AND ets <= cts + INTERVAL 1 HOUR"),
        "inner",
    )
    res = run_available_now(joined, "stream_stream_join", output_mode="append")
    return res.select(
        F.col("u").alias("user_id"),
        F.col("cid").alias("click_id"),
        F.col("eid").alias("error_id"),
        F.timestamp_diff("MICROSECOND", F.col("cts"), F.col("ets")).alias("gap_us"),
    )


@register(
    "streaming_dim_enrich",
    """
SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS window_start,
       c_mktsegment,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment through the REAL streaming
    engine: the event stream joins the static customer dimension INSIDE
    the micro-batch plan (Spark re-plans the static side per batch; with
    the broadcast hint the dimension never shuffles and the stream side
    never leaves its partitions), then aggregates 30-min tumbling windows
    per market segment. This is the canonical streaming-ETL shape — enrich
    then window — and AvailableNow + complete mode makes the final state
    equal to the batch join+aggregate the oracle runs."""
    from s4hanaconnector_spark.catalog import load_table_stream
    from s4hanaconnector_spark.streaming.core import (
        run_available_now,
        tumbling_window_agg,
    )

    ev = load_table_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = ev.join(
        F.broadcast(dim), ev["user_id"] == dim["c_custkey"], "inner"
    )
    agg = tumbling_window_agg(
        enriched,
        "ts",
        "30 minutes",
        ["c_mktsegment"],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__vs"),
        ],
    )
    res = run_available_now(agg, "streaming_dim_enrich")
    return res.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "c_mktsegment",
        "n",
        F.col("__vs").cast("double").alias("value_sum"),
    )


@register(
    "join_salted_supplier_revenue",
    """
SELECT s.s_name,
       count(*) AS n_lines,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_name
""",
)
def join_salted_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation path under the oracle gate: the lineitem-supplier
    join runs SALTED (operators/skew.py — deterministic xxhash salt in
    [0,8) on the big side, 8-fold replicated small side, join on
    key+salt), and the result must hash-match the plain join the oracle
    runs — proving the hot-key spread changes the physical distribution
    and nothing else. The aggregation after the join collapses map-side,
    so the salt sub-keys never inflate the shuffle."""
    from s4hanaconnector_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return (
        salted_join(li, sup, on=["l_suppkey"], how="inner", n=8)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("gross"),
        )
    )


@register(
    "window_rank_functions",
    """
SELECT o_orderkey, o_orderpriority,
       ntile(4) OVER w AS price_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27 completion: the remaining SQL:2003 rank-family window functions
    (ntile / percent_rank / cume_dist) over one shared window — single
    shuffle on the partition key, one sort, all three computed in the same
    window operator. The unique-key sort tiebreak makes every rank
    deterministic; the two ratio functions round at 6 digits (both engines
    divide the same integers in double)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


@register(
    "asof_nearest_click",
    """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
b AS (
    SELECT e.event_id, e.user_id, e.ts, r.event_id AS b_id, r.ts AS b_ts
    FROM e ASOF LEFT JOIN c r ON e.user_id = r.user_id AND e.ts >= r.ts
),
f AS (
    SELECT e.event_id, r.event_id AS f_id, r.ts AS f_ts
    FROM e ASOF LEFT JOIN c r ON e.user_id = r.user_id AND e.ts <= r.ts
)
SELECT b.event_id, b.user_id, b.ts,
       CASE WHEN b.b_ts IS NOT NULL
                 AND (f.f_ts IS NULL OR b.ts - b.b_ts <= f.f_ts - b.ts)
            THEN b.b_id ELSE f.f_id END AS nearest_click_id,
       CASE WHEN b.b_ts IS NOT NULL
                 AND (f.f_ts IS NULL OR b.ts - b.b_ts <= f.f_ts - b.ts)
            THEN 'backward'
            WHEN f.f_ts IS NOT NULL THEN 'forward' END AS __asof_direction
FROM b JOIN f ON f.event_id = b.event_id
""",
)
def asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of (pandas merge_asof direction='nearest'):
    every error event pairs with whichever click is closest in time, past
    or future, ties preferring the past match. Composed from the backward
    and forward union+running-window passes (operators/asof.py
    asof_join_nearest — the second pass chains on the first's output, so
    the cost is two shuffles on the same key, no new algorithm) and
    oracle-checked against DuckDB's two native ASOF joins combined with
    the identical gap comparison."""
    from s4hanaconnector_spark.operators.asof import asof_join_nearest

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return asof_join_nearest(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload={"event_id": "nearest_click_id"},
        right_tiebreak="event_id",
    )


@register(
    "asof_forward_next_click",
    """
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN r.ts - l.ts <= INTERVAL 6 HOUR THEN r.event_id END AS next_click_id,
       CASE WHEN r.ts - l.ts <= INTERVAL 6 HOUR
            THEN date_diff('microsecond', l.ts, r.ts) END AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'error') l
ASOF LEFT JOIN (SELECT user_id, ts, event_id
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts <= r.ts
""",
)
def asof_forward_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with a match tolerance: every error event picks up the
    user's next click, but only if it lands within 6 hours — the
    time-to-recovery shape. Same union+running-window rewrite as the
    backward variant (operators/asof.py, direction='forward': mirror-image
    descending sort), tolerance nulls the payload instead of dropping the
    row, exactly like DuckDB's ASOF LEFT JOIN post-filtered with a CASE.
    Boundary is inclusive on both engines and exact because fixtures are
    µs-aligned."""
    from s4hanaconnector_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    errors = ev.filter(F.col("event_type") == "error")
    res = asof_join(
        errors,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload={"event_id": "next_click_id", "ts": "next_click_ts"},
        direction="forward",
        tolerance_interval="6 hours",
        right_tiebreak="event_id",
    )
    return res.select(
        "event_id",
        "user_id",
        "ts",
        "next_click_id",
        F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("next_click_ts")).alias(
            "gap_us"
        ),
    )


@register(
    "range_join_error_clicks",
    """
SELECT er.event_id AS error_id,
       count(*) AS n_clicks,
       CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE) AS click_value_sum
FROM (SELECT * FROM events WHERE event_type = 'error') er
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = er.user_id
 AND c.ts BETWEEN er.ts AND er.ts + INTERVAL 12 HOUR
GROUP BY 1
""",
    headline=True,
)
def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via the bin-bucketing rewrite
    (operators/asof.py): each error opens a 12-hour window; clicks land
    in fixed 12-hour bins so Catalyst plans a hash equi-join on
    (user_id, bin) + exact containment filter — never a
    BroadcastNestedLoop theta join. Counts clicks per error window."""
    from s4hanaconnector_spark.operators.asof import range_join_binned

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    intervals = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 12 hours")).alias("win_end"),
    )
    joined = range_join_binned(
        clicks,
        intervals,
        on=["user_id"],
        point_ts="ts",
        interval_start="win_start",
        interval_end="win_end",
        bin_width="12 hours",
    )
    return joined.groupBy(F.col("error_id")).agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(F.col("click_value").cast("decimal(18,4)")).cast("double").alias("click_value_sum"),
    )


@register(
    "q12_priority_shipping",
    """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
       count(*) AS n_lines
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
""",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode column absent in fixtures -> grouped by
    l_linestatus): fact-side date filter pushes to the parquet scan, the
    join probes with the pruned 2-column orders projection, and the
    priority CASE folds into conditional counts inside a single partial+
    final hash aggregation."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        equi_join(li, o.withColumnRenamed("o_orderkey", "l_orderkey"), on=["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q21_waiting_supplier",
    """
SELECT s_name, count(*) AS numwait
FROM supplier s, lineitem l1, orders o
WHERE s.s_suppkey = l1.l_suppkey
  AND o.o_orderkey = l1.l_orderkey
  AND o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (lateness = shipped >60 days after order date, since
    the fixtures carry no commit/receipt dates): the correlated EXISTS /
    NOT EXISTS pair decorrelates to ONE per-order aggregate — distinct
    suppliers and distinct LATE suppliers — joined back to the late rows.
    One extra shuffle on l_orderkey replaces two correlated re-scans of
    lineitem; at 100 TB that is the difference between 3 passes and 1."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l = equi_join(li, o, on=["l_orderkey"]).withColumn(
        "late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 days")
    )
    per_order = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    qual = (
        l.filter(F.col("late"))
        .join(per_order, on=["l_orderkey"])
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    return (
        equi_join(qual, s, on=["l_suppkey"], broadcast_right=True)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "streaming_sliding_value",
    """
WITH expanded AS (
    SELECT make_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - s.shift) * 1000000)
               AS window_start,
           event_type, value
    FROM events, (SELECT unnest([0, 1800]) AS shift) s
)
SELECT window_start, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM expanded GROUP BY 1, 2
""",
)
def streaming_sliding_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 sliding windows through the real streaming engine: 1-hour
    windows sliding every 30 minutes (each event lands in exactly 2),
    AvailableNow -> memory sink in complete mode. The oracle expands each
    event to its two window starts explicitly, so both engines compute the
    identical window set."""
    from s4hanaconnector_spark.catalog import load_table_stream
    from s4hanaconnector_spark.streaming.core import (
        run_available_now,
        sliding_window_agg,
    )

    ev = load_table_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = sliding_window_agg(
        ev,
        "ts",
        "1 hour",
        "30 minutes",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__vs"),
        ],
    )
    res = run_available_now(agg, "streaming_sliding_value")
    return res.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        F.col("__vs").cast("double").alias("value_sum"),
    )


@register(
    "streaming_stateful_dedup",
    """
SELECT DISTINCT user_id, event_type FROM events
""",
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E25 through the real engine: dropDuplicatesWithinWatermark keyed on
    (user_id, event_type), state TTL longer than the fixture's span so no
    key re-emits, append mode. Emitting only the key columns makes the
    result independent of WHICH physical row survived (that choice is
    arrival-order dependent; the key set is not) — equal to batch
    DISTINCT, which is the oracle."""
    from s4hanaconnector_spark.catalog import load_table_stream
    from s4hanaconnector_spark.streaming.core import run_available_now, stateful_dedup

    ev = load_table_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = stateful_dedup(ev, ["user_id", "event_type"], "ts", "40 days")
    res = run_available_now(
        deduped.select("user_id", "event_type"),
        "streaming_stateful_dedup",
        output_mode="append",
    )
    return res


@register(
    "streaming_distinct_sketch",
    """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers_exact,
       CAST(1 AS INT) AS est_within_10pct,
       CAST(1 AS INT) AS matches_one_shot_union
FROM orders GROUP BY o_orderpriority
""",
)
def streaming_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTINCT maintenance as mergeable sketch state — the
    three-verb HLL algebra (agg_distinct_sketch_merge) driven by the REAL
    streaming engine: the feed lands as two poll files, a file stream
    drains them one micro-batch each, and every foreachBatch sketches its
    batch and UNIONS it into the persisted per-group state — KiB per
    group, never a rescan of earlier polls, never raw keys in state
    (exact streaming COUNT DISTINCT would have to hold every key ever
    seen; the sketch holds registers). mode("overwrite") per state
    version keeps at-least-once replay safe, same contract as the
    streaming dedup/IVM merges. Two deterministic flags ride the hash
    gate: the drained state's estimate lands within 10% of the exact
    distinct over the whole feed, and it EQUALS the one-shot union of the
    per-poll sketches — the associativity that makes incremental folding
    indistinguishable from never having split the feed."""
    import glob as _glob
    import os

    from s4hanaconnector_spark.operators.relational import (
        distinct_sketch,
        estimate_distinct,
        union_distinct_sketches,
    )
    from s4hanaconnector_spark.queries.llmops import _scratch_dir

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    d = _scratch_dir("stream_sketch", sf_dir)
    feed = os.path.join(d, "feed")
    state_dir = os.path.join(d, "state")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(state_dir)
    p0 = o.filter(F.col("o_orderkey") % 2 == 0)
    p1 = o.filter(F.col("o_orderkey") % 2 == 1)
    p0.coalesce(1).write.parquet(os.path.join(feed, "poll=0"))
    p1.coalesce(1).write.parquet(os.path.join(feed, "poll=1"))

    def fold(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        bstate = distinct_sketch(batch_df, ["o_orderpriority"], "o_custkey")
        versions = sorted(_glob.glob(os.path.join(state_dir, "v_0*")))
        prev = [
            v for v in versions
            if v < os.path.join(state_dir, f"v_{batch_id:06d}")
        ]
        if prev:
            bstate = union_distinct_sketches(
                s.read.parquet(prev[-1]).unionByName(bstate),
                ["o_orderpriority"],
            )
        bstate.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v_{batch_id:06d}")
        )

    stream = (
        spark.readStream.schema(
            "o_orderkey bigint, o_orderpriority string, o_custkey bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed, "poll=*"))
    )
    drain(
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
    )
    last = sorted(_glob.glob(os.path.join(state_dir, "v_0*")))[-1]
    drained = estimate_distinct(spark.read.parquet(last), out="__est")
    one_shot = estimate_distinct(
        union_distinct_sketches(
            distinct_sketch(p0, ["o_orderpriority"], "o_custkey").unionByName(
                distinct_sketch(p1, ["o_orderpriority"], "o_custkey")
            ),
            ["o_orderpriority"],
        ),
        out="__est1",
    )
    exact = o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers_exact")
    )
    return (
        exact.join(drained, "o_orderpriority")
        .join(one_shot, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_customers_exact",
            (
                F.abs(F.col("__est") - F.col("n_customers_exact")) * 10
                <= F.col("n_customers_exact")
            ).cast("int").alias("est_within_10pct"),
            (F.col("__est") == F.col("__est1")).cast("int").alias(
                "matches_one_shot_union"
            ),
        )
    )


@register(
    "streaming_session_windows",
    """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS ns
    FROM events
),
sess AS (
    SELECT user_id, ts,
           sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
    FROM gaps
),
s AS (
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM s
WHERE session_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
""",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 session windows + E26 late-data semantics through the real
    engine, in APPEND mode: a session is emitted only once the watermark
    (max event time - 10 min) passes its close — exactly the behavior a
    24/7 deployment shows. The oracle reconstructs gap-based sessions in
    SQL and applies the same watermark cutoff, so the held-back trailing
    sessions are excluded on both sides deterministically."""
    from s4hanaconnector_spark.catalog import load_table_stream
    from s4hanaconnector_spark.streaming.core import (
        run_available_now,
        session_window_agg,
    )

    ev = load_table_stream(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = session_window_agg(
        ev,
        "ts",
        "30 minutes",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
        watermark="10 minutes",
    )
    res = run_available_now(agg, "streaming_session_windows", output_mode="append")
    return res.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


@register(
    "streaming_late_data_drop",
    """
WITH mx AS (SELECT max(ts) AS m FROM events),
w AS (
    SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
)
SELECT window_start, event_type, n, value_sum
FROM w, mx
WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
""",
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E26's core semantic as a DIRECT declared query: rows
    arriving OLDER than the watermark are dropped, not aggregated. Poll 0
    feeds all events but the latest; poll 1 feeds the max-ts row; poll 2
    then injects copies of the EARLIEST hour's rows — far below the
    watermark, targeting windows already finalized. A correct engine drops
    them (SIGMOD'18 §4.3's watermark contract; the engine's
    numRowsDroppedByWatermark counts exactly these 3 rows); a broken one
    re-opens the evicted window state and append mode re-emits a duplicate
    (window, event_type) row — breaking parity with the oracle, which
    aggregates ONLY the clean feed and applies the same
    end <= max(ts) - 10 min append cutoff.

    Why THREE polls: the late-record filter evaluates against the
    watermark as of batch START, which incorporates data only through
    batch N-1's COMMIT — a one-batch propagation lag (documented
    micro-batch semantics; verified empirically: a 2-poll feed aggregates
    the late rows because batch 1 still runs with the initial 1970
    watermark). Poll 1 is the buffer batch that makes poll 0's frontier
    the active watermark before the late rows arrive. State at 100 TB:
    bounded by windows within the watermark horizon per key, never by
    history — exactly because of the eviction this query pins."""
    import os
    import tempfile

    from s4hanaconnector_spark.streaming.core import (
        run_available_now,
        tumbling_window_agg,
    )

    ev = t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]  # 1-row bounded agg, plan-time only
    d = tempfile.mkdtemp(prefix="stream_late_drop_", dir=scratch_root())
    feed_dir = os.path.join(d, "feed")
    # sequential writes give increasing mtimes = file-source batch order
    ev.filter(F.col("ts") < F.lit(hi)).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    ev.filter(F.col("ts") == F.lit(hi)).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )
    ev.filter(F.col("ts") < F.lit(lo) + F.expr("INTERVAL 1 HOUR")).coalesce(
        1
    ).write.parquet(os.path.join(feed_dir, "poll=2"))

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    agg = tumbling_window_agg(
        stream,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__vs"),
        ],
        watermark="10 minutes",
    )
    res = run_available_now(
        agg, "streaming_late_data_drop", output_mode="append"
    )
    return res.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        F.col("__vs").cast("double").alias("value_sum"),
    )


@register(
    "window_value_functions",
    """
SELECT o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS last_price,
       nth_value(o_totalprice, 3) OVER w AS third_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E27 completion: the value-family window functions (first_value /
    last_value / nth_value) with an explicit UNBOUNDED-UNBOUNDED frame —
    the default running frame makes last_value degenerate to the current
    row, a classic SQL trap both engines avoid identically once the frame
    is spelled out. Unique (date, key) sort order pins every value."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("o_orderpriority")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_price"),
    )


@register(
    "cross_join_region_nation",
    """
SELECT r.r_name, n.n_name, n.n_regionkey = r.r_regionkey AS is_home
FROM region r CROSS JOIN nation n
""",
)
def cross_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 completion: an EXPLICIT cartesian product (the one join shape
    with no key) — legitimate only when both sides are bounded dims, as
    here (5 x 25). Spark plans BroadcastNestedLoopJoin; the point of
    declaring it is that the engine supports the shape while every
    large-table query in this suite is asserted NOT to fall into it
    (tests/test_plans.py no-cartesian checks)."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
    )


@register(
    "user_event_sequences",
    """
SELECT user_id, count(*) AS n_events,
       md5(string_agg(event_type, ' ' ORDER BY ts, event_id)) AS seq_md5
FROM events GROUP BY user_id
""",
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence mining: each user's full ordered event-type
    sequence, verified by md5. The discipline being proven is ORDERED
    distributed aggregation: collect_list gives arbitrary partition order,
    so the rows ride a (ts, event_id, type) struct that array_sort puts
    into total order — the unique event_id tiebreak makes the sequence
    identical on any partitioning, matching DuckDB's ORDER BY inside
    string_agg. One shuffle on user_id; per-group state is the user's
    event list (bounded by per-user activity, not corpus size)."""
    ev = t(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.md5(
            F.concat_ws(" ", F.transform(seq, lambda x: x.getField("event_type")))
        ).alias("seq_md5"),
    )


@register(
    "orders_monthly_series",
    """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1
""",
)
def orders_monthly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling to calendar months (date_trunc) with exact
    decimal revenue — the downsample-for-dashboards shape; month emitted
    as a string so both engines agree on the bucket label."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


def _pagerank_oracle(iterations: int = 5) -> str:
    ctes = [
        """ed0 AS (
    SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM ed0 UNION SELECT dst, src FROM ed0),
nodes AS (SELECT DISTINCT src AS id FROM edges),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes, nn)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""r{i} AS (
    SELECT nodes.id,
           (1.0 - 0.85) / nn.n
           + 0.85 * coalesce(sum(r{i - 1}.r / deg.outdeg), 0.0) AS r
    FROM nodes CROSS JOIN nn
    LEFT JOIN edges ON edges.dst = nodes.id
    LEFT JOIN r{i - 1} ON r{i - 1}.id = edges.src
    LEFT JOIN deg ON deg.src = edges.src
    GROUP BY nodes.id, nn.n
)"""
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, round(r, 6) AS rank FROM r{iterations}"


@register("graph_pagerank", _pagerank_oracle(5))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative numeric graph algorithm (operators/graph.py pagerank):
    5 fixed PageRank rounds over the customer-supplier interaction graph
    (distinct order-lineitem pairs, both directions, node ids prefixed
    'c'/'s'). Fixed iteration count makes the float operation tree finite
    and replayable — the oracle unrolls the SAME 5 rounds as chained CTEs,
    every arithmetic expression mirrored, only the final rank rounded.
    Each round is one edge join + one aggregation on node id; rank state
    is |nodes| rows with lineage cut per round (localCheckpoint), the
    iterative-DataFrame discipline connected_components also uses."""
    from s4hanaconnector_spark.operators.graph import pagerank

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    ranks = pagerank(edges, iterations=5, damping=0.85)
    return ranks.select("id", F.round("r", 6).alias("rank"))


@register(
    "user_retention_daily",
    """
WITH days AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
)
SELECT strftime(a.d, '%Y-%m-%d') AS day, count(*) AS active,
       CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained_next_day
FROM days a LEFT JOIN days b ON b.user_id = a.user_id AND b.d = a.d + 1
GROUP BY a.d
""",
)
def user_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day cohort retention: distinct (user, day) activity
    self-joined one day forward — how many of each day's active users
    return tomorrow. The distinct pass collapses events to user-days
    BEFORE the join (agg-before-join again), so the self-join is
    user-days x user-days, not events x events; counts stay raw so no
    ratio ever divides across engines."""
    ev = t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    nxt = days.select(
        F.col("user_id").alias("u2"), F.date_sub(F.col("d"), 1).alias("d_prev")
    )
    joined = days.join(
        nxt, (days["user_id"] == nxt["u2"]) & (days["d"] == nxt["d_prev"]), "left"
    )
    return joined.groupBy(days["d"]).agg(
        F.count(F.lit(1)).alias("active"),
        F.sum(F.when(F.col("u2").isNotNull(), 1).otherwise(0)).alias(
            "retained_next_day"
        ),
    ).select(
        F.date_format(F.col("d"), "yyyy-MM-dd").alias("day"),
        "active",
        "retained_next_day",
    )


@register(
    "audit_sequence_gaps",
    """
WITH ev AS (SELECT DISTINCT user_id, event_id FROM events),
g AS (
    SELECT user_id, event_id,
           lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
    FROM ev
)
SELECT user_id, event_id AS gap_after, nxt AS next_id, nxt - event_id - 1 AS n_missing
FROM g WHERE nxt - event_id > 1
""",
)
def audit_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-continuity audit (the gaps half of gaps-and-islands):
    for each user, every hole in their observed event-id sequence with its
    size — the completeness check a CDC/ingest pipeline runs to prove no
    records were dropped (the reference's transaction-seq numbering exists
    for exactly this). One window over (user, id); integer arithmetic
    only."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select("user_id", "event_id").distinct()
    w = W.partitionBy("user_id").orderBy("event_id")
    g = ev.withColumn("nxt", F.lead("event_id").over(w))
    return g.filter(F.col("nxt") - F.col("event_id") > 1).select(
        "user_id",
        F.col("event_id").alias("gap_after"),
        F.col("nxt").alias("next_id"),
        (F.col("nxt") - F.col("event_id") - 1).alias("n_missing"),
    )


@register(
    "audit_sequence_islands",
    """
WITH ev AS (SELECT DISTINCT user_id, event_id FROM events),
g AS (
    SELECT user_id, event_id,
           event_id - row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
    FROM ev
)
SELECT user_id, min(event_id) AS island_start, max(event_id) AS island_end,
       count(*) AS island_len
FROM g GROUP BY user_id, grp
""",
)
def audit_sequence_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The islands half of gaps-and-islands: maximal runs of consecutive
    event ids per user, via the canonical ``id − row_number()`` grouping
    trick (consecutive ids share the difference) — one window + one
    aggregation, both on the user key, integer arithmetic only. Pairs with
    `audit_sequence_gaps` to fully characterize sequence continuity."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select("user_id", "event_id").distinct()
    w = W.partitionBy("user_id").orderBy("event_id")
    g = ev.withColumn("grp", F.col("event_id") - F.row_number().over(w))
    return g.groupBy("user_id", "grp").agg(
        F.min("event_id").alias("island_start"),
        F.max("event_id").alias("island_end"),
        F.count(F.lit(1)).alias("island_len"),
    ).drop("grp")


@register(
    "funnel_conversion",
    """
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 ON s3.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
SELECT 1 AS step, 'signup' AS name, count(*) AS n_users FROM s1
UNION ALL SELECT 2, 'view_after_signup', count(*) FROM s2
UNION ALL SELECT 3, 'click_after_view', count(*) FROM s3
UNION ALL SELECT 4, 'purchase_after_click', count(*) FROM s4
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users progressing
    signup -> first view AFTER signup -> first click AFTER that view ->
    first purchase AFTER that click. Each step is an aggregation-then-join
    on the user key — the step tables shrink monotonically, every join's
    right side is per-user one row, and the strictly-after predicate
    (exact µs timestamps) makes step ordering unambiguous. The standard
    product-analytics sequence query, expressed without any window
    function."""
    ev = t(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev.withColumnRenamed("t", "__prev_t"), on="user_id")
            .filter(F.col("ts") > F.col("__prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    s2 = first_after(s1, "view")
    s3 = first_after(s2, "click")
    s4 = first_after(s3, "purchase")
    steps = [(1, "signup", s1), (2, "view_after_signup", s2),
             (3, "click_after_view", s3), (4, "purchase_after_click", s4)]
    out = None
    for step, name, df in steps:
        row = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step).alias("step"), F.lit(name).alias("name"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "window_rolling_1h",
    """
SELECT user_id, event_id,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS v_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def window_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling aggregation: each event's trailing-1-hour count
    and value sum per user — the VALUE-based frame class (rows included by
    timestamp distance, peers share frames), distinct from every ROWS
    frame elsewhere in the suite. Ordering is FLOOR(epoch) seconds as exact
    integers on both engines — Spark's unix_timestamp truncates sub-second
    parts, so the oracle floors too (a bare CAST in DuckDB ROUNDS, flipping
    frame membership for fractional-second events whose peer sits exactly
    3600 s away);
    the windowed sum runs in DECIMAL. One shuffle on user_id."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        W.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("v_1h"),
    )


@register(
    "window_rolling_distinct",
    """
WITH ud AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
bounds AS (SELECT min(d) AS mn, max(d) AS mx FROM ud),
contrib AS (
    SELECT ud.user_id, unnest(generate_series(ud.d, least(ud.d + INTERVAL 6 DAY, b.mx::TIMESTAMP), INTERVAL 1 DAY))::DATE AS wd
    FROM ud CROSS JOIN bounds b
)
SELECT strftime(wd, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS n_active_7d
FROM contrib GROUP BY wd
""",
)
def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E111: trailing-7-day distinct actives per day — the sliding-window
    COUNT DISTINCT no window frame can express (distinct doesn't decompose
    over frames). Scale-correct rewrite: reduce to distinct user-days
    FIRST (the only big shuffle, map-side partial), then each user-day
    contributes itself to the <=7 window-end days it's visible from (a
    row-local sequence explode, bounded fan-out), then one distinct-agg by
    day. Cost is linear in user-days x 7 — never a per-day self-join over
    the raw events, never a quadratic range join. Exact integers."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    mx = ud.agg(F.max("d").alias("mx"))
    contrib = ud.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.least(F.date_add(F.col("d"), 6), F.col("mx")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("wd"),
    )
    return contrib.groupBy("wd").agg(
        F.count_distinct("user_id").alias("n_active_7d")
    ).select(F.date_format("wd", "yyyy-MM-dd").alias("day"), "n_active_7d")


@register(
    "window_percent_of_total",
    """
SELECT o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(sum(CAST(o_totalprice AS DECIMAL(18,2)))) OVER () AS DOUBLE), 6) AS share
FROM orders GROUP BY o_orderpriority
""",
)
def window_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): per-priority revenue share via a
    window aggregate OVER the aggregate — grand total computed once over
    the |groups|-row aggregation output (5 rows through the unpartitioned
    window, never the base table). Sums stay exact DECIMAL until the final
    mirrored double division, rounded at 6."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    rev = (
        o.groupBy("o_orderpriority")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__rev"))
    )
    total = F.sum("__rev").over(W.partitionBy())
    return rev.select(
        "o_orderpriority",
        F.col("__rev").cast("double").alias("revenue"),
        F.round(F.col("__rev").cast("double") / total.cast("double"), 6).alias("share"),
    )


@register(
    "user_event_type_profile",
    """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS profile,
       len(list_distinct(list(event_type))) AS n_types
FROM events GROUP BY user_id
""",
)
def user_event_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation made deterministic: each user's DISTINCT
    event types as a SORTED comma-joined profile string — collect_set's
    arbitrary order is canonicalized by array_sort before serialization,
    the discipline any set-aggregate needs to survive cross-engine (or
    even rerun-to-rerun) comparison."""
    ev = t(spark, sf_dir, "events")
    prof = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", prof).alias("profile"),
        F.size(prof).alias("n_types"),
    )


@register(
    "join_null_safe",
    """
WITH a AS (SELECT CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS k, event_id
           FROM events WHERE event_type = 'click'),
b AS (SELECT CASE WHEN user_id % 5 = 0 THEN NULL ELSE user_id END AS k, event_id
      FROM events WHERE event_type = 'view')
SELECT a.k, count(*) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY a.k
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): rows whose join
    key is NULL match EACH OTHER instead of vanishing — the semantic
    corner that silently drops data when an ingest maps unknowns to NULL
    and a plain equi-join runs. A fifth of users' keys are nulled on both
    sides; the null group must join as one bucket (and is also the skew
    warning this operator carries: all NULLs land in one task). Spark
    still plans a hash join on the null-safe comparator."""
    ev = t(spark, sf_dir, "events")
    key = F.when(F.col("user_id") % 5 == 0, F.lit(None)).otherwise(F.col("user_id"))
    a = ev.filter(F.col("event_type") == "click").select(
        key.alias("k"), "event_id"
    )
    b = ev.filter(F.col("event_type") == "view").select(
        key.alias("ka"), F.col("event_id").alias("eb")
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["ka"]), "inner")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "cumulative_adopters",
    """
WITH firsts AS (
    SELECT event_type, user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS d
    FROM events GROUP BY event_type, user_id
),
daily AS (SELECT event_type, d, count(*) AS new_users FROM firsts GROUP BY event_type, d)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS cum_adopters
FROM daily
""",
)
def cumulative_adopters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE DISTINCT counting (growth curves) without any running
    set-membership state: a user's first day per event type reduces the
    stream to at most |users|x|types| rows, daily new-adopter counts
    aggregate those, and a running sum yields the cumulative adopter
    curve — the standard rewrite that turns an intractable distinct-
    over-window into two hash aggs + one tiny window."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", F.col("ts")).cast("date")).alias("d")
    )
    daily = firsts.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = W.partitionBy("event_type").orderBy("d")
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_adopters"),
    )


@register(
    "agg_latest_event_by_user",
    """
SELECT user_id,
       arg_max(event_id, ts) AS latest_event_id,
       arg_max(event_type, ts) AS latest_event_type,
       max(ts) AS latest_ts
FROM events GROUP BY user_id
""",
)
def agg_latest_event_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max surface: each user's most recent event id and type
    in ONE aggregation pass — no window, no self-join back to the max
    timestamp (the two rewrites this aggregate replaces). Deterministic
    because (user_id, ts) is unique in the fixture; with ties, pass a
    composite ordering struct instead."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", "ts").alias("latest_event_id"),
        F.max_by("event_type", "ts").alias("latest_event_type"),
        F.max("ts").alias("latest_ts"),
    )


@register(
    "union_mixed_schemas",
    """
SELECT src, count(*) AS n, count(val) AS n_with_val, count(extra) AS n_with_extra
FROM (
    SELECT 'orders' AS src, o_orderkey AS id, o_totalprice AS val, CAST(NULL AS VARCHAR) AS extra FROM orders
    UNION ALL BY NAME
    SELECT 'events' AS src, event_id AS id, CAST(NULL AS DOUBLE) AS val, event_type AS extra FROM events
)
GROUP BY src
""",
)
def union_mixed_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-tolerant union (`unionByName(allowMissingColumns=True)`):
    two sources with only partially overlapping columns stack into one
    frame, absent columns null-filled per side — the multi-source ingest
    shape (and the trap `UNION ALL` by position silently corrupts). The
    per-source null counts prove which side carried which column."""
    o = t(spark, sf_dir, "orders").select(
        F.lit("orders").alias("src"),
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("val"),
    )
    e = t(spark, sf_dir, "events").select(
        F.lit("events").alias("src"),
        F.col("event_id").alias("id"),
        F.col("event_type").alias("extra"),
    )
    u = o.unionByName(e, allowMissingColumns=True)
    return u.groupBy("src").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("val").alias("n_with_val"),
        F.count("extra").alias("n_with_extra"),
    )


@register(
    "timeseries_densify",
    """
WITH days AS (
    SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-01-31', INTERVAL 1 DAY))::DATE AS d
),
pr AS (SELECT DISTINCT o_orderpriority AS p FROM orders),
actual AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d, o_orderpriority AS p, count(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
    GROUP BY 1, 2
)
SELECT strftime(days.d, '%Y-%m-%d') AS day, pr.p AS priority, coalesce(actual.n, 0) AS n_orders
FROM days CROSS JOIN pr
LEFT JOIN actual ON actual.d = days.d AND actual.p = pr.p
""",
)
def timeseries_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: a generated day spine (sequence + explode —
    no driver loop, no table needed) crossed with the priority dimension,
    left-joined to actual daily counts so silent days appear as explicit
    zeros — what every downstream time-series consumer (charting, anomaly
    detection, forecasting) requires. The spine is |days|x|priorities|
    rows; only the actuals aggregation touches the fact table."""
    o = t(spark, sf_dir, "orders")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    pr = o.select(F.col("o_orderpriority").alias("p")).distinct()
    actual = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp_ntz"))
        )
        .groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        days.crossJoin(pr)
        .join(actual, on=["d", "p"], how="left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("p").alias("priority"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "timeseries_interpolate",
    """
WITH obs AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
           round(max(value), 6) AS v
    FROM events
    WHERE user_id % 50 = 0
    GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, min(d) AS mn, max(d) AS mx FROM obs GROUP BY user_id
),
spine AS (
    SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS d
    FROM bounds
),
joined AS (
    SELECT s.user_id, s.d, o.v FROM spine s LEFT JOIN obs o USING (user_id, d)
),
ctx AS (
    SELECT user_id, d, v,
           last_value(v IGNORE NULLS) OVER w_prev AS pv,
           last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER w_prev AS pd,
           first_value(v IGNORE NULLS) OVER w_next AS nv,
           first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER w_next AS nd
    FROM joined
    WINDOW w_prev AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_next AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
       round(CASE WHEN v IS NOT NULL THEN v
             ELSE pv + (nv - pv) * datediff('day', pd, d) / datediff('day', pd, nd)
        END, 6) AS value,
       CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
FROM ctx
""",
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E110: linear-interpolation gap fill (TimescaleDB ``interpolate`` /
    pandas ``interpolate('time')`` for telemetry): per entity, a generated
    day spine between its first and last reading is filled by interpolating
    between the previous and next observations — prev/next located with
    IGNORE-NULLS window frames, NOT a self-join, so the whole fill is two
    frames over ONE user_id shuffle that the spine explode, the join and
    the windows all share. Readings are rounded before interpolating and
    the lerp is one fixed-order IEEE expression, so both engines emit
    identical bits."""
    ev = t(spark, sf_dir, "events")
    obs = (
        ev.filter(F.col("user_id") % 50 == 0)
        .groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
        )
        .agg(F.round(F.max("value"), 6).alias("v"))
    )
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("d"),
        )
    )
    j = spine.join(obs, on=["user_id", "d"], how="left")
    w_prev = W.partitionBy("user_id").orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    w_next = W.partitionBy("user_id").orderBy("d").rowsBetween(0, W.unboundedFollowing)
    obs_d = F.when(F.col("v").isNotNull(), F.col("d"))
    ctx = j.select(
        "user_id",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(w_next).alias("nd"),
    )
    lerp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("d"), F.col("pd")
    ) / F.datediff(F.col("nd"), F.col("pd"))
    return ctx.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.when(F.col("v").isNotNull(), F.col("v")).otherwise(lerp), 6).alias(
            "value"
        ),
        F.when(F.col("v").isNotNull(), F.lit("obs")).otherwise(F.lit("interp")).alias(
            "src"
        ),
    )


@register(
    "map_priority_rank",
    """
SELECT CASE o_orderpriority
            WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2 WHEN '3-MEDIUM' THEN 3
            WHEN '4-NOT SPECIFIED' THEN 4 WHEN '5-LOW' THEN 5 END AS rank,
       count(*) AS n
FROM orders GROUP BY 1
""",
)
def map_priority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: a literal map {priority -> numeric rank} built with
    create_map and probed per row with element_at — the dictionary-decode
    shape (code tables small enough to inline as map literals instead of
    broadcast joins). The oracle replays the lookup as a CASE; the Spark
    side exercises the actual MapType codepath."""
    ranks = {"1-URGENT": 1, "2-HIGH": 2, "3-MEDIUM": 3, "4-NOT SPECIFIED": 4, "5-LOW": 5}
    pairs = []
    for k, v in ranks.items():
        pairs += [F.lit(k), F.lit(v)]
    m = F.create_map(*pairs)
    o = t(spark, sf_dir, "orders")
    return (
        o.select(F.element_at(m, F.col("o_orderpriority")).alias("rank"))
        .groupBy("rank")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "orders_price_histogram",
    """
SELECT CAST(CASE WHEN o_totalprice < 0.0 THEN 0
            WHEN o_totalprice >= 500000.0 THEN 11
            ELSE floor(o_totalprice / 50000.0) + 1 END AS BIGINT) AS bucket,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_revenue
FROM orders GROUP BY 1
""",
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (width_bucket) over order value — the
    binned-aggregation shape every profiling/data-quality dashboard runs.
    Bucket assignment is row-local integer math pipelined into the scan;
    the only shuffle is the 12-row group aggregate (10 buckets + the two
    overflow buckets width_bucket reserves). Revenue per bucket goes
    through exact decimal so both engines agree bit-for-bit."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(500000.0), F.lit(10))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("bucket_revenue"),
        )
    )


@register(
    "events_time_weighted_avg",
    """
WITH g AS (
    SELECT user_id, value, epoch_us(ts) AS us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
    FROM events
),
agg AS (
    SELECT user_id,
           count(*) AS n_events,
           sum(CAST(value AS DECIMAL(18,6)) * (nxt - us)) AS wsum,
           max(us) - min(us) AS span_us
    FROM g GROUP BY user_id
)
SELECT user_id, n_events,
       round(CAST(wsum AS DOUBLE) / span_us, 8) AS twa_value
FROM agg WHERE span_us > 0
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average — each reading weighted by how long it was the
    CURRENT value (step-function integral / observation span), the correct
    mean for irregularly sampled telemetry where the plain AVG over-weights
    bursts. lead() supplies each reading's holding interval in exact
    microseconds; value x duration products accumulate in DECIMAL so the
    integral is bit-identical on both engines, with one double division at
    the end. One shuffle on user_id shared by the window and the aggregate
    (same key -> Catalyst reuses the exchange); users with a single reading
    (zero span) drop out."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    # ts loads as TIMESTAMP_NTZ; the session zone is pinned UTC, so the
    # cast to instant-typed TIMESTAMP is identity and unix_micros is exact
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        "value",
        us.alias("us"),
        F.lead(us).over(w).alias("nxt"),
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)") * (F.col("nxt") - F.col("us"))).alias("wsum"),
        (F.max("us") - F.min("us")).alias("span_us"),
    )
    return agg.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        F.round(F.col("wsum").cast("double") / F.col("span_us"), 8).alias("twa_value"),
    )


@register(
    "skew_diagnostics",
    """
WITH per_key AS (
    SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey
),
stats AS (
    SELECT count(*) AS n_keys, sum(c) AS total, max(c) AS max_c FROM per_key
)
SELECT p.l_orderkey AS hot_key, p.c AS n_rows_key,
       s.n_keys, CAST(s.total AS BIGINT) AS n_rows_total,
       round(CAST(s.max_c AS DOUBLE) * s.n_keys / s.total, 6) AS skew_factor
FROM per_key p CROSS JOIN stats s
ORDER BY p.c DESC, p.l_orderkey LIMIT 5
""",
)
def skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report — the diagnostic run before choosing salting
    (operators/skew.py) or AQE skew-join for a key: top-5 heaviest keys
    plus the hot/mean ratio (max rows-per-key x distinct keys / total
    rows). One map-side-combined count per key; the corpus-wide stats are
    a 1-row aggregate broadcast back; top-k is TakeOrderedAndProject.
    Integer inputs, one rounded double ratio — exact on both engines."""
    li = t(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total"),
        F.max("c").alias("max_c"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            F.col("l_orderkey").alias("hot_key"),
            F.col("c").alias("n_rows_key"),
            "n_keys",
            F.col("total").alias("n_rows_total"),
            F.round(
                F.col("max_c").cast("double") * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n_rows_key"), F.asc("hot_key"))
        .limit(5)
    )


_Z_TERMS = " + ".join(
    f"(((x >> {b}) & 1) << {2 * b}) + (((y >> {b}) & 1) << {2 * b + 1})"
    for b in range(10)
)


@register(
    "layout_zorder_spans",
    f"""
WITH d AS (
    SELECT o_orderkey,
           o_custkey % 1024 AS x,
           datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 1024 AS y
    FROM orders
),
z AS (
    SELECT o_orderkey, x, y, {_Z_TERMS} AS zval FROM d
),
b AS (
    SELECT x, y, ntile(16) OVER (ORDER BY zval, o_orderkey) AS bucket FROM z
)
SELECT bucket, count(*) AS n,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y,
       (max(x) - min(x)) + (max(y) - min(y)) AS span
FROM b GROUP BY bucket
""",
)
def layout_zorder_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E109: Z-order layout effectiveness report — orders keyed by
    (customer, order-day) are Morton-interleaved (operators.bucketing.
    zorder_value: pure shifts/ands, codegen'd) and cut into 16 contiguous
    z-ranges; per range the report shows the min/max hyper-rectangle both
    dimensions stay inside, i.e. exactly the parquet min/max stats a
    multi-dim predicate would prune on. The deterministic ntile stand-in
    here mirrors what ``cluster_zorder``'s repartitionByRange does with
    sampled boundaries at scale (sampling is not oracle-reproducible; the
    file-skipping effect is identical). All-integer arithmetic end-to-end."""
    from s4hanaconnector_spark.operators.bucketing import zorder_value

    o = t(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 1024).alias("x"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
            % 1024
        ).alias("y"),
    )
    z = d.withColumn("zval", zorder_value(["x", "y"], bits=10))
    b = z.select(
        "x", "y", F.ntile(16).over(W.orderBy("zval", "o_orderkey")).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        ((F.max("x") - F.min("x")) + (F.max("y") - F.min("y"))).alias("span"),
    )


@register(
    "agg_approx_quantiles",
    """
WITH exact AS (
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.5) AS p50_exact,
           quantile_disc(o_totalprice, 0.95) AS p95_exact,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM orders GROUP BY o_orderpriority
),
approx AS (
    SELECT o_orderpriority,
           approx_quantile(o_totalprice, 0.5) AS p50_a,
           approx_quantile(o_totalprice, 0.95) AS p95_a
    FROM orders GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, e.p50_exact, e.p95_exact,
       CAST(abs(a.p50_a - e.p50_exact) * 10 <= (e.hi - e.lo) AS INT) AS p50_within_10pct_range,
       CAST(abs(a.p95_a - e.p95_exact) * 10 <= (e.hi - e.lo) AS INT) AS p95_within_10pct_range
FROM exact e JOIN approx a USING (o_orderpriority)
""",
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E23: sketch-based quantiles — the 100 TB path where an exact
    quantile would globally sort each group (Spark: Greenwald-Khanna via
    percentile_approx; DuckDB: its own approx_quantile). Sketch values
    differ between engines, so — like agg_approx_count_distinct — the gate
    hash-checks the CONTRACT, not the sketch: exact discrete p50/p95
    (positional window, operators/relational.py quantile_disc_per_group)
    match bit-for-bit, and each engine's own approximation must land
    within 10% of the group's value RANGE (division-free compare). The
    sketch side is one map-side-combined aggregation; the exact side
    shares one window shuffle across both quantiles."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wn = W.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    exact = (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.max(
                F.when(
                    F.col("__rn") == F.ceil(F.col("__n") * 0.5).cast("long"),
                    F.col("o_totalprice"),
                )
            ).alias("p50_exact"),
            F.max(
                F.when(
                    F.col("__rn") == F.ceil(F.col("__n") * 0.95).cast("long"),
                    F.col("o_totalprice"),
                )
            ).alias("p95_exact"),
        )
    )
    sketch = o.groupBy("o_orderpriority").agg(
        F.expr("percentile_approx(o_totalprice, 0.5)").alias("__p50a"),
        F.expr("percentile_approx(o_totalprice, 0.95)").alias("__p95a"),
        F.min("o_totalprice").alias("__lo"),
        F.max("o_totalprice").alias("__hi"),
    )
    rng = F.col("__hi") - F.col("__lo")
    return exact.join(F.broadcast(sketch), on="o_orderpriority").select(
        "o_orderpriority",
        "p50_exact",
        "p95_exact",
        ((F.abs(F.col("__p50a") - F.col("p50_exact")) * 10 <= rng).cast("int")).alias(
            "p50_within_10pct_range"
        ),
        ((F.abs(F.col("__p95a") - F.col("p95_exact")) * 10 <= rng).cast("int")).alias(
            "p95_within_10pct_range"
        ),
    )


@register(
    "dq_constraint_report",
    """
SELECT 'orders.o_orderkey NOT NULL' AS constraint,
       count(*) FILTER (WHERE o_orderkey IS NULL) AS n_violations,
       count(*) AS n_checked
FROM orders
UNION ALL
SELECT 'orders.o_orderkey UNIQUE', count(*) - count(DISTINCT o_orderkey), count(*)
FROM orders
UNION ALL
SELECT 'orders.o_totalprice >= 0', count(*) FILTER (WHERE o_totalprice < 0), count(*)
FROM orders
UNION ALL
SELECT 'orders.o_orderpriority IN domain',
       count(*) FILTER (WHERE o_orderpriority NOT IN
           ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')),
       count(*)
FROM orders
UNION ALL
SELECT 'lineitem.l_orderkey REFERENCES orders',
       count(*) FILTER (WHERE NOT EXISTS (
           SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       count(*)
FROM lineitem l
""",
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint report (the Deequ-style verification pass a
    pipeline runs before publishing a snapshot): completeness (NOT NULL),
    uniqueness, range, domain membership, and referential integrity, each
    as (constraint, n_violations, n_checked). Every non-join check is one
    map-side-combined aggregate over a single scan; the RI check is a
    left-anti count on the join key — at 100 TB exactly the shuffle the
    actual FK join would need, so the audit costs no more than the query
    it protects. All counts are exact integers — bit-identical gate."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    def check(df, name, bad):
        return df.agg(
            F.lit(name).alias("constraint"),
            F.count(F.when(bad, 1)).alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        )

    domain = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    uniq = o.agg(
        F.lit("orders.o_orderkey UNIQUE").alias("constraint"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    )
    ri_bad = li.join(
        o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti"
    ).agg(F.count(F.lit(1)).alias("__bad"))
    ri = li.agg(F.count(F.lit(1)).alias("__all")).crossJoin(F.broadcast(ri_bad)).select(
        F.lit("lineitem.l_orderkey REFERENCES orders").alias("constraint"),
        F.col("__bad").alias("n_violations"),
        F.col("__all").alias("n_checked"),
    )
    return (
        check(o, "orders.o_orderkey NOT NULL", F.col("o_orderkey").isNull())
        .unionByName(uniq)
        .unionByName(check(o, "orders.o_totalprice >= 0", F.col("o_totalprice") < 0))
        .unionByName(
            check(
                o,
                "orders.o_orderpriority IN domain",
                ~F.col("o_orderpriority").isin(domain),
            )
        )
        .unionByName(ri)
    )


@register(
    "orders_pareto_customers",
    """
WITH per_cust AS (
    SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT sum(rev) AS total FROM per_cust),
ranked AS (
    SELECT o_custkey, rev,
           sum(rev) OVER (ORDER BY rev DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum_rev,
           CAST(row_number() OVER (ORDER BY rev DESC, o_custkey) AS BIGINT) AS rnk
    FROM per_cust
)
SELECT r.rnk, r.o_custkey,
       CAST(r.rev AS DOUBLE) AS revenue,
       CAST(r.cum_rev AS DOUBLE) AS cum_revenue,
       CAST(r.cum_rev * 5 <= t.total * 4 AS INT) AS in_top80pct
FROM ranked r CROSS JOIN tot t
ORDER BY r.rnk LIMIT 50
""",
)
def orders_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: customers ranked by revenue with the running
    cumulative and an exact 80%-frontier flag (cum*5 <= total*4 — the
    decimal cross-multiplication keeps the threshold division-free). The
    running sum over DECIMAL is order-deterministic because the rank order
    is total (revenue DESC, custkey tiebreak). One aggregate shuffle per
    customer, one global-ordered window over the (customer-bounded)
    aggregate, 1-row total broadcast back."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("rev")
    )
    tot = per_cust.agg(F.sum("rev").alias("__total"))
    w = W.orderBy(F.desc("rev"), F.asc("o_custkey"))
    ranked = per_cust.select(
        "o_custkey",
        "rev",
        F.sum("rev").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum_rev"),
        F.row_number().over(w).cast("long").alias("rnk"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            "o_custkey",
            F.col("rev").cast("double").alias("revenue"),
            F.col("cum_rev").cast("double").alias("cum_revenue"),
            (F.col("cum_rev") * 5 <= F.col("__total") * 4).cast("int").alias("in_top80pct"),
        )
        .orderBy("rnk")
        .limit(50)
    )


@register(
    "basket_part_pairs",
    """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS support
FROM pairs GROUP BY part_a, part_b
HAVING count(*) >= 2
ORDER BY support DESC, part_a, part_b
LIMIT 50
""",
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in the same
    order, with a minimum-support floor. The self-join runs on the
    DISTINCT (order, part) item set — per-basket fan-out is items², safe
    because baskets are naturally small (TPC-H caps 7 line items; for
    long-tail baskets the same hot-key cap as the LSH bucket join
    applies). Support counts are exact ints; ORDER + LIMIT carries the
    full (support, a, b) tiebreak so the frontier is set-deterministic."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(50)
    )


@register(
    "customer_rfm_segments",
    """
WITH rfm AS (
    SELECT o_custkey,
           max(o_orderdate) AS last_order,
           count(*) AS frequency,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
    FROM orders GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT) AS r_score,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT) AS f_score,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT) AS m_score
    FROM rfm
)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency/frequency/monetary quartile scores per
    customer, aggregated to segment sizes (the classic CRM cube). Each
    ntile carries a customer-id tiebreak so quartile boundaries are
    engine-deterministic; monetary goes through DECIMAL. The three global
    windows run over the per-customer AGGREGATE (bounded), not raw orders
    — at corpus scale swap ntile for broadcast approx-percentile cutoffs,
    the same note as curriculum_order."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_dec("o_totalprice")).alias("monetary"),
    )
    scored = rfm.select(
        "o_custkey",
        F.ntile(4).over(W.orderBy(F.desc("last_order"), F.asc("o_custkey"))).cast("long").alias("r_score"),
        F.ntile(4).over(W.orderBy(F.desc("frequency"), F.asc("o_custkey"))).cast("long").alias("f_score"),
        F.ntile(4).over(W.orderBy(F.desc("monetary"), F.asc("o_custkey"))).cast("long").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "event_transition_matrix",
    """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
trans AS (
    SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
),
tot AS (SELECT from_type, sum(n) AS out_n FROM trans GROUP BY 1)
SELECT t.from_type, t.to_type, t.n,
       round(CAST(t.n AS DOUBLE) / o.out_n, 6) AS p
FROM trans t JOIN tot o USING (from_type)
ORDER BY t.n DESC, t.from_type, t.to_type
LIMIT 50
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the path-analysis primitive behind next-action prediction and funnel
    discovery. One lag window per user (single shuffle on user_id),
    transition counts aggregate map-side, and each row's probability
    normalizes by the from-state's out-degree (|event types|² table,
    broadcast-sized). Exact counts; one rounded division; fully tiebroken
    frontier."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("out_n"))
    return (
        trans.join(F.broadcast(tot), on="from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("out_n"), 6).alias("p"),
        )
        .orderBy(F.desc("n"), F.asc("from_type"), F.asc("to_type"))
        .limit(50)
    )


@register(
    "cohort_retention_matrix",
    """
WITH firsts AS (
    SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
    FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id, f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) / 7) AS BIGINT) AS week_offset
    FROM events e JOIN firsts f ON f.user_id = e.user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       week_offset,
       count(*) AS active_users
FROM activity
WHERE week_offset <= 8
GROUP BY cohort_week, week_offset
""",
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — users bucketed by first-seen week,
    counted per subsequent week offset (the activation dashboard every
    growth team runs). The first-seen reduction is one aggregate; the
    cohort label joins back broadcast (|users| rows after reduction); the
    distinct (user, offset) pass makes a user count once per active week.
    All calendar math in exact day arithmetic; week labels emitted as ISO
    strings so both engines agree on the bucket key."""
    e = t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    firsts = e.select("user_id", wk.alias("w")).groupBy("user_id").agg(
        F.min("w").alias("cohort_week")
    )
    activity = (
        e.select("user_id", wk.alias("w"))
        .join(firsts, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff(F.col("w"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 8)
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@register(
    "streaming_ss_join_cross_batch",
    """
SELECT er.event_id AS error_id,
       count(*) AS n_clicks,
       CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE) AS click_value_sum
FROM (SELECT * FROM events WHERE event_type = 'error') er
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = er.user_id
 AND c.ts BETWEEN er.ts AND er.ts + INTERVAL 12 HOUR
GROUP BY 1
""",
)
def streaming_ss_join_cross_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL stream-stream interval join through the engine: errors and
    clicks are two filtered branches of one event stream (self-join), each
    watermarked, joined on user + a 12-hour event-time interval — the
    stateful join Structured Streaming buffers BOTH sides for, with state
    eviction driven by the watermark and the time-range condition (an
    unbounded-state stream-stream join is rejected by the engine in append
    mode; the interval bound is what makes it runnable at all). The feed
    is split chronologically into two polls so event time advances
    monotonically across micro-batches — cross-poll pairs (an error near
    the cut joining a click just after it) exercise the buffered state.
    The drained pair set aggregates to the same per-error click counts as
    the batch range join (range_join_error_clicks' bin-bucketed rewrite) —
    one contract, three execution strategies (theta join, binned hash
    join, stateful streaming join).

    State at 100 TB: both sides buffer only rows within watermark + 12 h
    of the frontier, hash-partitioned by user — bounded by event-rate x
    window, never by history."""
    import os
    import tempfile

    from s4hanaconnector_spark.streaming.core import run_available_now

    ev = t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    # Cut the feed at the FIRST error that has a strictly-later click inside
    # its window: that error lands in poll 0 and its click in poll 1, so at
    # least one pair is guaranteed to form across micro-batches — the test
    # would otherwise pass without ever touching the buffered join state.
    # (1-row bounded agg at plan time; midpoint fallback for a degenerate
    # fixture with no such pair.)
    e_b = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("e_ts")
    )
    c_b = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("c_ts")
    )
    first = (
        e_b.join(c_b, "bu")
        .filter(
            (F.col("c_ts") > F.col("e_ts"))
            & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 12 hours"))
        )
        .agg(F.min(F.struct("e_ts", "c_ts")).alias("s"))
        .collect()[0]["s"]
    )
    if first is not None:
        mid = first["e_ts"]
    else:
        bounds = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
        mid = bounds["lo"] + (bounds["hi"] - bounds["lo"]) / 2
    d = tempfile.mkdtemp(prefix="stream_ss_join_", dir=scratch_root())
    feed_dir = os.path.join(d, "feed")
    ev.filter(F.col("ts") <= F.lit(mid)).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=0")
    )
    ev.filter(F.col("ts") > F.lit(mid)).coalesce(1).write.parquet(
        os.path.join(feed_dir, "poll=1")
    )

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(feed_dir, "poll=*"))
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "24 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "24 hours")
    )
    pairs = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 12 hours")),
        "inner",
    )
    drained = run_available_now(
        pairs.select("error_id", "click_value"),
        "streaming_ss_join",
        output_mode="append",
    )
    return drained.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum(F.col("click_value").cast("decimal(18,4)"))
        .cast("double")
        .alias("click_value_sum"),
    )


@register(
    "events_rolling_anomaly",
    """
WITH w AS (
    SELECT user_id, event_id,
           CAST(value AS DECIMAL(18,6)) AS x,
           count(*) OVER fr AS n,
           sum(CAST(value AS DECIMAL(18,6))) OVER fr AS sx,
           sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER fr AS sxx
    FROM events
    WINDOW fr AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING
    )
)
SELECT user_id, event_id, n AS n_prior
FROM w
WHERE n >= 5
  AND (n * x - sx) * (n * x - sx) > 4 * (n * sxx - sx * sx)
""",
)
def events_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection over a RANGE-interval frame: each event is
    scored against the mean/variance of the SAME user's events in the
    trailing 7 days (exclusive of itself) — the event-time window frame
    (``rangeBetween`` over epoch-micros) that tumbling/sliding aggregates
    cannot express, flagging |x - mean| > 2 sigma with >= 5 priors.

    Determinism without float variance: the frame computes exact DECIMAL
    count/sum/sum-of-squares, and the 2-sigma test cross-multiplies to
    (n*x - sx)^2 > 4*(n*sxx - sx^2) — pure decimal arithmetic, no
    division, no sqrt, so the flag frontier is engine-exact. One shuffle
    on user_id; the frame is bounded by event-rate x 7 days."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("value").cast("decimal(18,6)").alias("x"),
        (F.unix_micros(F.col("ts").cast("timestamp"))).alias("__us"),
    )
    fr = (
        W.partitionBy("user_id")
        .orderBy("__us")
        .rangeBetween(-604800000000, -1)
    )
    w = ev.select(
        "user_id", "event_id", "x",
        F.count(F.lit(1)).over(fr).alias("n"),
        F.sum("x").over(fr).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
    )
    lhs = (F.col("n") * F.col("x") - F.col("sx"))
    rhs = F.lit(4) * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return (
        w.filter((F.col("n") >= 5) & (lhs * lhs > rhs))
        .select("user_id", "event_id", F.col("n").alias("n_prior"))
    )


@register(
    "join_salted_nation_revenue",
    """
SELECT n.n_name,
       count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_salted_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join under the driver's hash gate: orders x customer
    runs through salted_join (deterministic 8-way salt on the big side,
    8x replicated small side) and the result must be value-identical to
    the plain join the oracle runs — the equivalence the salting contract
    promises (operators/skew.py; deterministic xxhash salt, so retries and
    reruns agree). Nation keys are exactly the few-hot-keys shape salting
    exists for: 25 distinct values over 150k orders would otherwise bind
    the whole stage to 25 tasks when the join feeds a same-key shuffle."""
    from s4hanaconnector_spark.operators.skew import salted_join

    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), cust,
        on=["c_custkey"], how="inner", n=8,
    )
    return (
        enriched.join(F.broadcast(nation), enriched.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
