"""B. Core relational operator queries over the TPC-H-ish tables.

Only the queries the test suite checks by name stay registered here.
Same engine-parity rules as every other registered query (see the
plans/queries.py module docstring); the @register calls execute when
plans/queries.py imports this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from .registry import register

# ===========================================================================
# B. core relational operators over the TPC-H-ish tables
# ===========================================================================


@register(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue,
       epoch_us(o_orderdate) AS orderdate_us,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two joins -> agg -> top-10.
    The customer side is filter-reduced but SF-LINEAR (one market segment
    is ~20% of all customers), so it carries NO forced broadcast hint —
    the q5/q17 rule, applied here in a round-6 audit: at test SF the
    optimizer's autoBroadcastJoinThreshold still picks a broadcast join
    for it, at the 100-TB target AQE degrades to a shuffle join instead
    of OOMing.  Only lineitem (the fact) shuffles for the aggregation —
    the join order Catalyst should and does pick once the filters are
    pushed into the scans."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast(
                    "double"
                ),
                2,
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "orderdate_us"
            ),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
SELECT n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
         AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the six-table join: revenue by nation where the
    CUSTOMER and the SUPPLIER sit in the same nation of one region, over a
    two-year order window (the date filter prunes ORDERS, map-side).  The
    multi-join planning showcase: region, nation, and supplier are truly
    dimension-sized (bounded / sub-linear in scale factor) and carry
    explicit broadcast hints; CUSTOMER grows linearly with the fact
    (~2.5% of lineitem rows in TPC-H), so it gets NO forced hint — AQE +
    autoBroadcastJoinThreshold picks a broadcast join at small SF and
    degrades gracefully to a shuffle join at the 100-TB target, where a
    forced broadcast would OOM the driver.  The same-nation predicate
    rides INSIDE the supplier join condition, never as a post-join filter
    over a wider cross product.  Decimal-exact revenue per the engine's
    money policy, rounded double at the surface."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast(
                    "double"
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
WITH pp AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small_orders
FROM lineitem JOIN pp USING (l_partkey)
WHERE 5 * CAST(l_quantity AS DECIMAL(18,2)) * c < s
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the DECORRELATED scalar subquery: "lineitems
    whose quantity is below 20% of their part's average".  The naive form
    re-computes a correlated per-part average per row; the scale form
    computes the per-part (sum, count) ONCE (partial-agg'd, part-table
    sized) and joins it back onto the fact, so the threshold filter runs
    right at the join.  The aggregate is part-table sized — LINEAR in
    scale factor (~3% of lineitem rows in TPC-H) — so it carries NO
    forced broadcast hint: AQE picks a broadcast join while it fits and a
    sort-merge join at the 100-TB target, where forcing the hint would
    OOM.  The 0.2x-average compare is kept EXACT by clearing the
    division: 5*qty*cnt < sum in DECIMAL — no float threshold, no
    per-row divide.  One fact shuffle (the per-part agg); the revenue
    total is a single-row aggregate."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(dec("l_quantity")).alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(5 * dec("l_quantity") * F.col("c") < F.col("s"))
        .agg(
            F.round(
                F.sum(dec("l_extendedprice")).cast("double") / 7.0, 2
            ).alias("avg_yearly"),
            F.count("*").cast("long").alias("n_small_orders"),
        )
    )


@register(
    "rollup_event_stats",
    oracle="""
SELECT event_type, user_id, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value,
       CAST(GROUPING(event_type) AS INT) AS g_type,
       CAST(GROUPING(user_id) AS INT) AS g_user
FROM events
GROUP BY ROLLUP(event_type, user_id)
""",
)
def rollup_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 at multiple granularities in ONE pass: ROLLUP computes
    (type,user), (type), and grand-total rows in a single shuffle — the
    alternative of three groupBys scans the fact table three times."""
    ev = load_table(spark, sf_dir, "events")
    return ev.rollup("event_type", "user_id").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("sum_value"),
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("user_id").cast("int").alias("g_user"),
    ).select("event_type", "user_id", "n", "sum_value", "g_type", "g_user")


@register(
    "heavy_hitters",
    oracle="""
SELECT user_id, n, CAST(rk AS INT) AS rk FROM (
  SELECT user_id, COUNT(*) AS n,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rk
  FROM events GROUP BY user_id
) WHERE rk <= 10
""",
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (hot keys): one partial-aggregated groupBy then
    a top-10.  The mergeable-sketch variant (count_min_sketch, for when
    even the per-key agg is too wide) is error-bound-pinned in pytest —
    its binary is engine-specific.

    Plan shape: the top-10 is taken with ``orderBy().limit()`` — a
    distributed TakeOrderedAndProject (per-partition heads + driver
    merge) — and the rank window then runs over exactly 10 rows.  Ranking BEFORE the limit
    put an unpartitioned row_number window over the whole per-user
    aggregate: single-partition, corpus-linear — the r6 verdict's
    scale-killer #2.  The (n desc, user_id) order is total, so
    limit-then-rank is row-identical to rank-then-filter."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.orderBy(F.col("n").desc(), "user_id")
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(10)
    )
    return top.withColumn("rk", F.row_number().over(w))


@register(
    "reification_index",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                          ORDER BY l_linenumber) AS reif_index
FROM lineitem WHERE l_orderkey < 100
""",
)
def reification_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W5: the per-resource monotone row counter (Mapper.py:97-98) as
    row_number over (doc, table order, row order)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey", "l_linenumber", F.row_number().over(w).alias("reif_index")
    )


@register(
    "top_k_per_group",
    oracle="""
SELECT user_id, event_id, CAST(rk AS INT) AS rk FROM (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(value AS DECIMAL(18,2)) DESC,
                                     event_id) AS rk
  FROM events
) WHERE rk <= 3
""",
)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: row_number over a per-group ordering + filter — the
    canonical pattern; deterministic tie-break on event_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").cast("decimal(18,2)").desc(), "event_id"
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", "rk")
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 1800 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 1800 DAY)
GROUP BY s.s_name
""",
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the EXISTS + NOT EXISTS double decorrelation, the
    hardest of the classic subquery classes: lines in finalized orders that
    shipped very late (> 1800 days after the order date, the analogue of
    Q21's receipt>commit predicate on this schema), where the order HAD
    other suppliers (EXISTS -> LEFT SEMI) but NO other supplier was also
    late (NOT EXISTS -> LEFT ANTI), counted per supplier name.  One fact
    table probed three ways: the late-line driver plus two single-purpose
    (orderkey, suppkey[, shipdate]) projections for the semi and anti
    probes — all three shuffles key on l_orderkey, so a cluster that
    bucketed lineitem by orderkey runs the whole query shuffle-free.  The
    suppkey-inequality legs ride INSIDE the equi-join condition (hash join
    on orderkey, residual filter), never a theta join.  Supplier is the
    only broadcast-size side.  At 100 TB nothing here materializes wide:
    the widest row is 3 columns of 11."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 1800 DAY")
    )
    others = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    late = late.join(
        others,
        (F.col("ok2") == F.col("l_orderkey"))
        & (F.col("sk2") != F.col("l_suppkey")),
        "left_semi",
    )
    late_others = li.join(
        orders.select(
            F.col("o_orderkey").alias("ok3"),
            F.col("o_orderdate").alias("od3"),
        ),
        F.col("l_orderkey") == F.col("ok3"),
    ).filter(
        F.col("l_shipdate") > F.col("od3") + F.expr("INTERVAL 1800 DAY")
    ).select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    sole = late.join(
        late_others,
        (F.col("ok3") == F.col("l_orderkey"))
        & (F.col("sk3") != F.col("l_suppkey")),
        "left_anti",
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(supp, sole["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


@register(
    "q13_order_distribution",
    oracle="""
WITH co AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — outer-join count distribution: how many customers
    placed 0, 1, 2, ... non-urgent orders.  The semantics trap this query
    exists to pin is the predicate PLACEMENT: the priority filter lives in
    the LEFT JOIN's ON clause, not a WHERE — a WHERE would silently drop
    the zero-order customers that are the whole point of the histogram
    (COUNT(o_orderkey) counts only matched rows; NULL keys from the outer
    join count 0).  Two aggregations: the per-customer count shuffles on
    the join key it already has (one exchange reused), the distribution
    groupBy collapses to at most a few hundred distinct counts — a
    broadcast-size result no matter the corpus.  At 100 TB the first
    groupBy is the only real shuffle and AQE coalesces the second."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    joined = cust.join(
        orders,
        (cust["c_custkey"] == orders["o_custkey"])
        & (orders["o_orderpriority"] != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


@register(
    "q18_large_volume_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       epoch_us(o.o_orderdate) AS order_date_us,
       o.o_totalprice, big.sum_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — the HAVING-on-a-fact-aggregate pattern: orders
    whose total line quantity exceeds 300 units, enriched with the
    customer.  The aggregate-then-join order is the scale decision: the
    300-unit HAVING collapses the fact table to a tiny qualifying set
    BEFORE any join, so the orders and customer joins probe with
    thousands of rows, not billions — the same reason Q18's classic plan
    aggregates lineitem first.  No broadcast hint on the aggregate: it is
    selective here but scales with the fact table, so AQE decides (the
    q5/q17 lesson).  Quantities are integral in this corpus, so the sum
    is exact BIGINT arithmetic in both engines — no float accumulation
    order to diverge on."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "order_date_us"
            ),
            "o_totalprice",
            "sum_qty",
        )
    )


@register(
    "daily_trend_slope",
    oracle="""
WITH daily AS (
  SELECT event_type,
         datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_idx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), xs AS (
  SELECT event_type,
         day_idx - MIN(day_idx) OVER (PARTITION BY event_type) AS x,
         n
  FROM daily
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(n) AS BIGINT) AS sy,
         CAST(SUM(x * n) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xs GROUP BY event_type
)
SELECT event_type, n_days,
       CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
            ELSE CAST((1000000 * (n_days * sxy - sx * sy))
                      // (n_days * sxx - sx * sx) AS BIGINT)
       END AS slope_ppm
FROM s
""",
)
def daily_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise least-squares trend: the OLS slope of daily event volume
    per event type, in counts-per-day ppm — the ingest-drift detector
    ("is this source ramping or dying?") behind crawl scheduling and
    mixture re-weighting.  The whole regression is four integer sums over
    the DAILY table (bounded by elapsed days x types, not events), so the
    corpus-sized work is one partial-agg'd groupBy; the slope itself is
    the closed form 1e6*(n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) in exact int64
    with x re-based per group (x = day - min(day), keeping products tiny).
    Division parity for NEGATIVE (declining) slopes: Spark's `div` and
    DuckDB's INTEGER `//` both truncate toward zero (DuckDB floors only
    for floats: -7 // 2 = -3 as integers), so the plain quotient agrees —
    unlike the timestamp-bucket queries, where the dividend is made
    exactly divisible first and the distinction vanishes.  A single-day
    group has zero variance and honestly yields NULL."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("timestamp").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("day_idx"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").cast("long").alias("n"))
    )
    xs = daily.select(
        "event_type",
        (
            F.col("day_idx")
            - F.min("day_idx").over(Window.partitionBy("event_type"))
        ).alias("x"),
        "n",
    )
    s = xs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("n").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("n")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_type",
        "n_days",
        F.when(
            den != 0,
            F.expr(
                "CAST((1000000 * (n_days * sxy - sx * sy))"
                " div (n_days * sxx - sx * sx) AS BIGINT)"
            ),
        ).alias("slope_ppm"),
    )


@register(
    "range_frame_hourly_load",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT event_type, hour_idx, n,
       CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour_idx
                         RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rolling_6h
FROM hourly
""",
)
def range_frame_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based window frames (RANGE, not ROWS): the 6-hour rolling
    load over busy hours only — the >=3 floor makes the hour axis SPARSE,
    which is exactly when RANGE and ROWS diverge: a ROWS frame would leap
    quiet gaps and sum six busy hours spread over days, while the RANGE
    frame bounds the window by the hour VALUE, summing only hours within
    the trailing clock window whether or not they are adjacent rows.
    This is the correct frame for any time-decayed metric over
    irregularly-sampled series (crawl rates, error budgets, token
    burn-down).  Cost model: the frame runs over the HOURLY table —
    bounded by elapsed hours x types, not events — so the per-type window
    sort is bounded by construction; the corpus-sized work is one
    partial-agg'd groupBy.  The hour bucket is integer epoch-microsecond
    floor division (the battery's timestamp-parity convention)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                "(unix_micros(cast(ts as timestamp))"
                " - pmod(unix_micros(cast(ts as timestamp)), 3600000000))"
                " div 3600000000"
            ).alias("hour_idx"),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") >= 3)
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-5, 0)
    )
    return hourly.withColumn(
        "rolling_6h", F.sum("n").over(w).cast("long")
    )


@register(
    "q15_top_revenue_supplier",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
), mx AS (SELECT MAX(total_rev) AS m FROM rev)
SELECT s.s_suppkey, s.s_name,
       ROUND(CAST(rev.total_rev AS DOUBLE), 2) AS total_revenue
FROM rev, mx
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev.total_rev = mx.m
""",
)
def q15_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — the view-then-max pattern: quarterly revenue per
    supplier, keeping every supplier TIED at the maximum (the reason Q15
    cannot be a LIMIT 1: ties must all survive).  The max attaches as the
    sanctioned one-row broadcast and the equality test runs on the EXACT
    DECIMAL sums — comparing rounded doubles for equality is how a tie
    silently drops on one engine and not the other; rounding happens only
    in the projection.  At 100 TB: one date-pruned fact pass partial-agg'd
    to a supplier-sized table, one scalar reduction over that table, and a
    dimension join on the handful of winners — the fact never shuffles
    twice."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("m"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("m"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
    )


@register(
    "cheapest_supplier_per_part",
    oracle="""
SELECT l_partkey, best_price, best_suppkey FROM (
  SELECT l_partkey, l_extendedprice AS best_price, l_suppkey AS best_suppkey,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice, l_suppkey) AS rn
  FROM lineitem
) t WHERE rn = 1
""",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's correlated core — argmin per group — WITHOUT a window:
    `min(struct(price, suppkey))` per part.  Struct-min is lexicographic,
    so the struct carries (price, then suppkey) and the suppkey doubles as
    the deterministic tie-break.  The scale point is partial aggregation:
    a window formulation shuffles EVERY fact row to sort it inside its
    group, while agg-min combines map-side to ONE candidate per part per
    partition before the exchange — at 10^12 rows that is the difference
    between shuffling the corpus and shuffling the part dimension.  The
    oracle runs the honest ROW_NUMBER formulation, proving the rewrite."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_suppkey"
    )
    m = li.groupBy("l_partkey").agg(
        F.min(
            F.struct(
                F.col("l_extendedprice").alias("p"),
                F.col("l_suppkey").alias("s"),
            )
        ).alias("m")
    )
    return m.select(
        "l_partkey",
        F.col("m.p").alias("best_price"),
        F.col("m.s").alias("best_suppkey"),
    )


@register(
    "hourly_gap_fill",
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), b AS (
  SELECT event_type, MIN(hour_idx) AS lo, MAX(hour_idx) AS hi
  FROM hourly GROUP BY event_type
), spine AS (
  SELECT event_type, UNNEST(range(lo, hi + 1)) AS hour_idx FROM b
)
SELECT s.event_type, s.hour_idx,
       h.n IS NULL AS was_gap,
       CAST(last_value(h.n IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hour_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_filled
FROM spine s LEFT JOIN hourly h
  ON h.event_type = s.event_type AND h.hour_idx = s.hour_idx
""",
)
def hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling — the regularization every downstream
    window/trend computation silently assumes: densify the sparse hourly
    series onto a complete per-type hour spine (sequence-explode of the
    group's [min, max] range), mark the manufactured rows, and forward-
    fill counts with last-observation-carried-forward (`last(n, ignore
    nulls)` over the ordered frame — the W1 section fill-down latch,
    applied to time).  Without the spine, RANGE frames silently skip the
    empty hours and moving averages overweight busy periods.  Scale
    shape: the spine is bounded by elapsed hours x types (generated,
    never shuffled wide), the left join keys on (type, hour) against the
    already-bounded hourly table, and the fill window runs per type over
    bounded rows.  The first spine hour always has data (the range starts
    at an observed min), so n_filled is never NULL."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                "(unix_micros(cast(ts as timestamp))"
                " - pmod(unix_micros(cast(ts as timestamp)), 3600000000))"
                " div 3600000000"
            ).alias("hour_idx"),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count("*").cast("long").alias("n"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias(
                "hour_idx"
            ),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour_idx"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "hour_idx",
        F.col("n").isNull().alias("was_gap"),
        F.last("n", ignorenulls=True).over(w).cast("long").alias("n_filled"),
    )


@register(
    "null_safe_device_join",
    oracle="""
WITH keyed AS (
  SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 < 3
              THEN NULL
              ELSE CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
         END AS device
  FROM events
), dim AS (
  SELECT DISTINCT device,
         CASE WHEN device IS NULL THEN 'unknown'
              ELSE 'device-' || CAST(device AS VARCHAR) END AS device_label
  FROM keyed
)
SELECT d.device_label, CAST(COUNT(*) AS BIGINT) AS n_events
FROM keyed k JOIN dim d ON k.device IS NOT DISTINCT FROM d.device
GROUP BY d.device_label
""",
)
def null_safe_device_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the semantics
    corner every dimension join with incomplete data hits: a third of the
    events carry no device id (NULL, derived deterministically from the
    props payload here), and a PLAIN equi-join silently drops every one
    of them because NULL = NULL is NULL — the unknown-bucket rows vanish
    from the report with no error.  The null-safe comparator keeps NULL
    as a first-class join key (Spark plans it as an ordinary hash/merge
    join on a null-wrapped key, NOT a nested loop), so the 'unknown'
    dimension row aggregates its events like any other.  The JSON field
    extraction is the typed from_json path inside codegen; the dim side
    is distinct-bounded and broadcastable at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long") % 10
    keyed = ev.select(
        F.when(k < 3, F.lit(None).cast("long")).otherwise(k).alias("device")
    )
    dim = keyed.distinct().select(
        "device",
        F.when(F.col("device").isNull(), "unknown")
        .otherwise(F.concat(F.lit("device-"), F.col("device").cast("string")))
        .alias("device_label"),
    )
    return (
        keyed.alias("k")
        .join(
            dim.alias("d"),
            F.col("k.device").eqNullSafe(F.col("d.device")),
        )
        .groupBy("device_label")
        .agg(F.count("*").cast("long").alias("n_events"))
    )


@register(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_event
  FROM events
), t AS (
  SELECT prev_event, event_type AS next_event,
         CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM seq WHERE prev_event IS NOT NULL
  GROUP BY prev_event, event_type
)
SELECT prev_event, next_event, n_transitions,
       CAST((1000000 * n_transitions) //
            SUM(n_transitions) OVER (PARTITION BY prev_event) AS BIGINT)
         AS share_ppm
FROM t
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the sequence-analytics primitive behind next-action prediction,
    funnel discovery, and bot detection (bots have degenerate rows):
    LAG each user's time-ordered stream by one, count (prev -> next)
    pairs, and row-normalize to exact integer ppm shares.  Ordering ties
    break on the unique event id so same-timestamp events sequence
    identically in both engines.  Scale shape: the LAG window shuffles
    once on user_id (the natural key — bounded per-user partitions, no
    global sort), the pair groupBy collapses to at most |types|^2 rows
    map-side, and the normalizing window runs over that bounded matrix,
    not the corpus.  At 10^12 events this is one user-keyed exchange
    plus arithmetic on a 25-row table."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_event"),
    ).filter(F.col("prev_event").isNotNull())
    t = seq.groupBy(
        F.col("prev_event"), F.col("event_type").alias("next_event")
    ).agg(F.count("*").cast("long").alias("n_transitions"))
    norm = Window.partitionBy("prev_event")
    return t.select(
        "prev_event",
        "next_event",
        "n_transitions",
        F.expr(
            "CAST((1000000 * n_transitions) div"
            " (sum(n_transitions) OVER (PARTITION BY prev_event))"
            " AS BIGINT)"
        ).alias("share_ppm"),
    )


@register(
    "cumulative_unique_users",
    oracle="""
WITH d AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day_idx, user_id
  FROM events
), cum AS (
  SELECT day_idx, CAST(MAX(c) AS BIGINT) AS cum_users FROM (
    SELECT day_idx,
           COUNT(DISTINCT user_id) OVER (
             ORDER BY day_idx
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
    FROM d
  ) t GROUP BY day_idx
)
SELECT day_idx,
       CAST(cum_users - COALESCE(LAG(cum_users) OVER (ORDER BY day_idx), 0)
            AS BIGINT) AS n_new,
       cum_users
FROM cum
""",
)
def cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day — growth accounting's core curve —
    via the FIRST-OCCURRENCE REWRITE: Spark windows cannot take
    COUNT(DISTINCT), and the naive per-day re-count scans the whole
    history per day.  The rewrite: each user contributes exactly once, on
    their first-seen day (one groupBy min), so daily new-user counts sum
    once and the running SUM of those IS the cumulative distinct count.
    The oracle runs the HONEST windowed COUNT(DISTINCT) (DuckDB supports
    it), proving the rewrite rather than mirroring it.  Scale: two
    bounded shuffles (per-user min on the user key, per-day count on the
    day key) and one running-sum window over the elapsed-days table; the
    naive formulation is O(days x corpus).  Days with events but no new
    users appear with n_new = 0 via the observed-day spine."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr(
            "(unix_micros(cast(ts as timestamp))"
            " - pmod(unix_micros(cast(ts as timestamp)), 86400000000))"
            " div 86400000000"
        ).alias("day_idx"),
        "user_id",
    ).distinct()
    first = d.groupBy("user_id").agg(F.min("day_idx").alias("day_idx"))
    new = first.groupBy("day_idx").agg(
        F.count("*").cast("long").alias("n_new_raw")
    )
    spine = d.select("day_idx").distinct()
    w = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(new, "day_idx", "left")
        .select(
            "day_idx",
            F.coalesce(F.col("n_new_raw"), F.lit(0)).cast("long").alias(
                "n_new"
            ),
        )
        .withColumn("cum_users", F.sum("n_new").over(w).cast("long"))
    )


@register(
    "q19_or_of_ands_revenue",
    oracle="""
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 20)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity >= 10 AND l.l_quantity <= 35)
""",
)
def q19_or_of_ands_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — the OR-of-ANDs predicate class: disjunctive
    branch conditions spanning BOTH join sides.  The planner lesson Q19
    teaches: the equi-key (p_partkey = l_partkey) must stay extracted as
    the hash-join key with the disjunction as a residual filter — naive
    per-branch UNIONs scan the fact once per branch, and pushing an OR
    into either scan alone is unsound.  Catalyst additionally derives
    per-side IN/range supersets from the disjunction (constraint
    propagation), so each scan still prunes: the part side to the two
    brands, the fact side to the quantity hull.  One join, one residual,
    one aggregate row."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    b1 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(b1 | b2)
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


# Crawl-policy table for the longest-prefix gate: (path prefix, action).
# Deliberately nested (each next prefix extends an earlier one) so the
# LONGEST-match rule, not any-match, decides — the robots.txt semantics.
_URL_POLICIES = (
    ("/", "allow"),
    ("/item/", "allow"),
    ("/item/s", "deny"),
    ("/item/sa", "allow"),
    ("/item/b", "deny"),
)


@register(
    "url_policy_longest_prefix",
    oracle="""
WITH pol(prefix, action) AS (
  VALUES ('/', 'allow'), ('/item/', 'allow'), ('/item/s', 'deny'),
         ('/item/sa', 'allow'), ('/item/b', 'deny')
), u AS (
  SELECT p_partkey,
         '/item/' || lower(replace(p_name, ' ', '-')) AS path
  FROM part WHERE p_partkey < 400
), m AS (
  SELECT u.p_partkey, u.path, pol.prefix, pol.action,
         ROW_NUMBER() OVER (PARTITION BY u.p_partkey
                            ORDER BY length(pol.prefix) DESC) AS rk
  FROM u JOIN pol ON substr(u.path, 1, length(pol.prefix)) = pol.prefix
)
SELECT p_partkey, path, prefix AS matched_prefix, action
FROM m WHERE rk = 1
""",
)
def url_policy_longest_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy gating — robots.txt semantics: each URL path obeys
    the LONGEST matching policy prefix (deny under /item/s, re-allowed
    under /item/sa, ...), not any match.  The scale trick is how the
    prefix match becomes an EQUI-join: a path only ever matches policy
    prefixes at the policies' OWN lengths, so each path projects to one
    candidate substring per DISTINCT policy length (|lengths| rows, here
    4 — bounded by the policy table, never by path length) and candidates
    equi-join the broadcast policy table; the winner is an argmax-by-
    length min-struct aggregate, no window over the corpus.  The naive
    formulations both fail at 10^12 URLs: a theta join (path LIKE
    prefix||'%') is a nested loop, and exploding every character prefix
    multiplies the corpus by average path length.  The oracle runs the
    honest substring theta join + window, proving the rewrite."""
    lengths = sorted({len(p) for p, _ in _URL_POLICIES})
    pol = spark.createDataFrame(
        list(_URL_POLICIES), "prefix string, action string"
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    u = p.select(
        "p_partkey",
        F.concat(
            F.lit("/item/"),
            F.lower(F.replace("p_name", F.lit(" "), F.lit("-"))),
        ).alias("path"),
    )
    cand = u.select(
        "p_partkey",
        "path",
        F.explode(
            F.array(*[F.substring("path", 1, n) for n in lengths])
        ).alias("pref"),
    )
    best = (
        cand.join(F.broadcast(pol), cand["pref"] == pol["prefix"])
        .groupBy("p_partkey", "path")
        .agg(
            F.max(
                F.struct(
                    F.length("prefix").alias("plen"),
                    F.col("prefix").alias("prefix"),
                    F.col("action").alias("action"),
                )
            ).alias("m")
        )
    )
    return best.select(
        "p_partkey",
        "path",
        F.col("m.prefix").alias("matched_prefix"),
        F.col("m.action").alias("action"),
    )
