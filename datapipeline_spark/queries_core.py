"""Core query registry: operator-inventory queries + DuckDB oracle SQL.

Each entry demonstrates one operator from SURVEY.md §2 on the driver test
tables, with an ANSI-SQL oracle producing identical column names and values.

Conventions for cross-engine determinism (validated by running the full
checker at 10x the driver's scale, sf0.1, where tie/accumulation hazards are
10x more exposed):
- window order is always a TOTAL order: (time, event_id) within user_id;
- derived floats are rounded (6 dp; money 2 dp) IN BOTH ENGINES so that
  last-ulp differences in aggregate accumulation order cannot flip a hash;
- long accumulations over fixed-decimal inputs (cumulative frames, means fed
  into further arithmetic) sum SCALED INTEGERS (cents / epoch-microseconds):
  integer sums are exact in any order and across partial-aggregate merges,
  where a double sum is engine-order-dependent (DuckDB running windows use a
  segment tree);
- ratios whose exact decimal can land on a .5 tie round via
  floor(x*1e6 + 0.5)/1e6 in both engines: engine round() tie-handling
  differs (Spark rounds the exact BigDecimal of the double, DuckDB
  multiplies then std::round) but floor of identical doubles is identical;
- partial functions (ln, log1p) are null-guarded identically on both sides —
  Spark returns null out of domain, DuckDB raises;
- values moved without arithmetic (lag/lead/min/max/fill) stay unrounded —
  they are bit-identical by construction;
- events have no nulls, so `value_n` (null where event_type='error') is the
  deterministic missing-value column used by the gating/reset operators.
"""

from __future__ import annotations

from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipeline_spark import operators as ops
from datapipeline_spark.functions.time import floor_time_expr, shift_time_expr
from datapipeline_spark.operators.window import canonical_window
from datapipeline_spark.tables import load_table

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


# ------------------------------------------------- exact monetary arithmetic
#
# Every monetary column in the testdata is 2dp-exact, so
# l_extendedprice*(1-l_discount) is exact in integer 1e-4-dollar units
# (cents x integer discount-percent complement). Summing the UNITS as
# bigint makes the aggregate identical under any accumulation order,
# partitioning, or engine — the double-sum form these helpers replaced
# flipped the 2dp rounding of one q7_nation_volume group at sf1 (IEEE
# accumulation-order drift; same class as the bloom_prefilter_revenue
# fix). Display: half-up to cents in exact integer arithmetic
# ((S+50) div 100 — all amounts positive), then ONE deterministic double
# division, the monthly_revenue_growth idiom.


def _disc_units():
    """l_extendedprice * (1 - l_discount) in exact 1e-4-dollar units."""
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )


# aggregate expr over a projected per-row `__units__` column -> 2dp dollars
_UNITS_REV = "round(CAST((sum(__units__) + 50) div 100 AS DOUBLE) / 100.0, 2)"

# DuckDB twins (// is DuckDB's integral division; sum(BIGINT) is HUGEINT,
# so the +50 // 100 display rounding stays exact at any scale)
_SQL_DISC_UNITS = (
    "CAST(round({p} * 100) AS BIGINT) * (100 - CAST(round({d} * 100) AS BIGINT))"
)
_SQL_UNITS_REV = "round(CAST((sum({u}) + 50) // 100 AS DOUBLE) / 100.0, 2)"


# ---------------------------------------------------------------- base streams

ORDER = ("time", "event_id")  # total order within user_id


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.col("ts").alias("time"),
        "value",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value_n"),
    )


EVENTS_BASE = """
base AS (
  SELECT event_id, user_id, ts AS time, value, event_type,
         CASE WHEN event_type = 'error' THEN CAST(NULL AS DOUBLE) ELSE value END AS value_n
  FROM events
)
"""

W = "PARTITION BY user_id ORDER BY time, event_id"


def hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-floored, collapsed-to-last stream: one row per (user, hour)."""
    s = events_stream(spark, sf_dir).select("user_id", "time", "value", "event_id")
    s = ops.floor_time(s, "1h")
    return ops.collapse(s, ["user_id"], keep="last", arrival_col="event_id").drop("event_id")


HOURLY_BASE = """
hourly AS (
  SELECT user_id, time, value FROM (
    SELECT user_id, date_trunc('hour', ts) AS time, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
"""


# ------------------------------------------------------------ relational / agg


@query(
    "q1_pricing_summary",
    """
WITH l AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT)            AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_discount * 100) AS BIGINT)      AS dpct,
         CAST(round(l_tax * 100) AS BIGINT)           AS tpct
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(qty) AS DOUBLE), 2)                          AS sum_qty,
       round(CAST(sum(cents) AS DOUBLE) / 100.0, 2)                AS sum_base_price,
       round(CAST((sum(cents * (100 - dpct)) + 50) // 100
             AS DOUBLE) / 100.0, 2)                                AS sum_disc_price,
       round(CAST((sum(cents * (100 - dpct) * (100 + tpct)) + 5000) // 10000
             AS DOUBLE) / 100.0, 2)                                AS sum_charge,
       round(CAST(sum(qty) AS DOUBLE) / count(*), 6)               AS avg_qty,
       round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 6)     AS avg_price,
       round(CAST(sum(dpct) AS DOUBLE) / 100.0 / count(*), 6)      AS avg_disc,
       count(*)                                                    AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 in the repo's exact-units discipline: every monetary column
    is 2dp-exact in the data, so per-row integer units (cents, discount/tax
    as integer percents) make every sum an exact bigint — identical under
    ANY accumulation order or partitioning, at any scale — and the single
    display division at the end is deterministic on both engines. The
    double-sum form this replaced flipped the 2dp rounding of one q7 group
    at sf1 (IEEE accumulation-order drift between engines); same class as
    the round-7 bloom_prefilter_revenue fix."""
    li = load_table(spark, sf_dir, "lineitem")
    l = li.filter(F.col("l_shipdate") <= F.lit(datetime(1998, 9, 2))).select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dpct"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tpct"),
    )
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("round(CAST(sum(qty) AS DOUBLE), 2)").alias("sum_qty"),
        F.expr("round(CAST(sum(cents) AS DOUBLE) / 100.0, 2)").alias(
            "sum_base_price"
        ),
        F.expr(
            "round(CAST((sum(cents * (100 - dpct)) + 50) div 100"
            " AS DOUBLE) / 100.0, 2)"
        ).alias("sum_disc_price"),
        F.expr(
            "round(CAST((sum(cents * (100 - dpct) * (100 + tpct)) + 5000) div 10000"
            " AS DOUBLE) / 100.0, 2)"
        ).alias("sum_charge"),
        F.expr("round(CAST(sum(qty) AS DOUBLE) / count(1), 6)").alias("avg_qty"),
        F.expr("round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(1), 6)").alias(
            "avg_price"
        ),
        F.expr("round(CAST(sum(dpct) AS DOUBLE) / 100.0 / count(1), 6)").alias(
            "avg_disc"
        ),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "top_orders",
    """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark TakeOrderedAndProject — per-partition heap + driver merge,
    no global sort (SURVEY.md §2.4 gap operator)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
    )


@query(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pipeline with explicit broadcast of the small dims — at 100 TB the
    orders fact never shuffles for the dim joins. Revenue rides the exact
    cents discipline (per-row bigint cents, exact integer sum, one display
    division): order- and engine-invariant at any scale, where the double
    sum it replaced drifts at the 2dp rounding boundary."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q3_shipping_priority",
    """
WITH g AS (
  SELECT l.l_orderkey,
         sum({u}) AS s,
         o.o_orderdate, o.o_orderpriority
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
)
SELECT l_orderkey, round(CAST((s + 50) // 100 AS DOUBLE) / 100.0, 2) AS revenue,
       o_orderdate, o_orderpriority
FROM g ORDER BY s DESC, l_orderkey LIMIT 10
""".format(u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: lineitem⋈orders fact-fact join with both date filters
    pushed to the scans; customer is explicitly broadcast, while the l⋈o side
    is left to the planner (broadcast at small SF, shuffle-on-orderkey once
    orders outgrows the threshold — AQE decides from runtime stats). Top-10
    runs as TakeOrderedAndProject (partial per-partition top-k, no global
    sort). Deterministic tiebreak on l_orderkey; BOTH the top-k cutoff and
    the displayed revenue ride the exact integer units sum, so the rank
    order (and therefore the kept rows) cannot drift with accumulation
    order at any scale."""
    cutoff = datetime(1998, 1, 1)
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit(cutoff))
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit(cutoff))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("__units__", _disc_units())
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum("__units__").alias("__s__"),
            F.expr(_UNITS_REV).alias("revenue"),
        )
        .orderBy(F.col("__s__").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "rollup_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (region, nation)
""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via native rollup (SURVEY.md §2.6 last row —
    grouping sets are absent in the reference but built-in here). One shuffle;
    the subtotal expansion happens inside the aggregate, not as a self-union."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0,
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "set_ops_users",
    """
WITH {base}
SELECT user_id FROM base WHERE event_type = 'click' AND value > 150
INTERSECT
SELECT user_id FROM base WHERE event_type = 'purchase' AND value > 150
EXCEPT
SELECT user_id FROM base WHERE event_type = 'error' AND value > 150
""".format(base=EVENTS_BASE),
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct set algebra (SURVEY.md §2.8 — the reference exposes no
    EXCEPT/INTERSECT surface; Spark's are native). INTERSECT binds tighter
    than EXCEPT in SQL, mirrored by the call nesting."""
    s = events_stream(spark, sf_dir)
    big = s.filter(F.col("value") > 150)
    clicks = big.filter(F.col("event_type") == "click").select("user_id")
    buys = big.filter(F.col("event_type") == "purchase").select("user_id")
    errs = big.filter(F.col("event_type") == "error").select("user_id")
    return clicks.intersect(buys).subtract(errs)


@query(
    "q5_regional_revenue",
    """
SELECT n.n_name AS nation, {rev} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
""".format(
        rev=_SQL_UNITS_REV.format(
            u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")
        )
    ),
)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join with a correlated nation condition
    (customer and supplier must share a nation). The dim chain
    region→nation→supplier is broadcast onto lineitem map-side (no fact
    shuffle); lineitem⋈orders is the one planner-decided fact join; customer
    is broadcast last with BOTH equi-conditions (custkey + nationkey) so the
    cross-nation pairs never materialize."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 1, 1)))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        l.join(F.broadcast(dims), l.l_suppkey == dims.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(cu),
            (o.o_custkey == cu.c_custkey) & (F.col("s_nationkey") == cu.c_nationkey),
        )
        .withColumn("__units__", _disc_units())
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.expr(_UNITS_REV).alias("revenue"))
    )


@query(
    "q18_large_orders",
    """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS total, round(big.total_qty, 2) AS total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join. The HAVING filter runs on the
    partially-aggregated lineitem BEFORE any join, so only the ~1% of
    orderkeys that qualify ever reach the join — at 100 TB the join input is
    the filtered aggregate, not the fact table. Customer is broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total"),
            F.round("qty", 2).alias("total_qty"),
        )
    )


@query(
    "late_arrival_report",
    """
WITH {base},
o AS (
  SELECT user_id, time, event_id,
         max(time) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
  FROM base
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN time < hwm THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       max(CASE WHEN time < hwm
                THEN (epoch_us(hwm) - epoch_us(time)) // 1000000 ELSE 0 END)
         AS max_lateness_s
FROM o GROUP BY user_id
""".format(base=EVENTS_BASE),
)
def late_arrival_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: per partition, how many records arrive
    (by event_id, the arrival ordinal) with an event time behind the
    partition's running high-water mark, and the worst lateness. This is the
    report form of the reference's fail-fast unordered-input contract
    (pipelines/stream/order.py raises; a watermark needs this number to be
    sized). One window pass + one aggregate, exact integer microseconds."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hwm = F.max("time").over(w)
    late = F.col("time") < F.col("hwm")
    lateness = F.expr("(unix_micros(hwm) - unix_micros(time)) DIV 1000000")
    return (
        s.withColumn("hwm", hwm)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_out_of_order"),
            F.max(F.when(late, lateness).otherwise(F.lit(0))).alias("max_lateness_s"),
        )
    )


@query(
    "dq_report",
    """
WITH {base}
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN value_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       CAST(sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
       CAST(sum(CASE WHEN isinf(value) THEN 1 ELSE 0 END) AS BIGINT) AS n_inf,
       CAST(sum(CASE WHEN time IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_time,
       count(DISTINCT user_id) AS n_users
FROM base GROUP BY event_type
""".format(base=EVENTS_BASE),
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit in one pass: per-group missing/NaN/Inf/null-time
    counters — the report form of the reference's fail-fast contracts
    (domain/value.py rejects Inf, map_records demands tz-aware time). In a
    lazy engine the check runs as an aggregate you alert on, instead of an
    exception mid-stream; operators/validate.py holds the raising variants."""
    s = events_stream(spark, sf_dir)
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        one(F.col("value_n").isNull()).alias("n_missing"),
        one(F.isnan("value")).alias("n_nan"),
        one(F.abs(F.col("value")) == float("inf")).alias("n_inf"),
        one(F.col("time").isNull()).alias("n_null_time"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "json_props_stats",
    """
WITH j AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       count(*) AS n,
       CAST(sum(k) AS BIGINT) AS k_sum,
       min(k) AS k_min,
       max(k) AS k_max,
       count(DISTINCT k) AS k_distinct
FROM j GROUP BY event_type
""",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the JSON `props` payload with
    a declared schema (`from_json` — typed, vectorized, no Python) and
    aggregate the extracted field per event type. The schema-on-read path
    for event payloads at scale; a malformed document becomes null rather
    than an error (PERMISSIVE), matching the oracle's json_extract."""
    ev = load_table(spark, sf_dir, "events")
    j = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k long").getField("k").alias("k"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.countDistinct("k").alias("k_distinct"),
    )


@query(
    "q7_nation_volume",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       {rev} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""".format(
        rev=_SQL_UNITS_REV.format(
            u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")
        )
    ),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    The disjunctive nation pair is a residual on the joined row (after both
    nation dims broadcast); supplier and customer each broadcast onto their
    fact side, so the only big join is lineitem⋈orders."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("__units__", _disc_units())
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.expr(_UNITS_REV).alias("revenue"))
    )


@query(
    "daily_type_pivot",
    """
WITH {base}
SELECT date_trunc('day', time) AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
FROM base
GROUP BY date_trunc('day', time)
""".format(base=EVENTS_BASE),
)
def daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical pivot as one conditional aggregate: event-type counts per
    day spread into columns. `pivot()` with an explicit value list compiles
    to exactly these CASE aggregates — one pass, one shuffle, no
    distinct-scan job for the column set."""
    s = events_stream(spark, sf_dir)
    out = (
        s.groupBy(F.date_trunc("day", F.col("time")).alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .agg(F.count(F.lit(1)))
    )
    renames = {"click": "clicks", "view": "views", "purchase": "purchases", "error": "errors"}
    for old, new in renames.items():
        out = out.withColumn(new, F.coalesce(F.col(old), F.lit(0)).cast("long")).drop(old)
    return out


@query(
    "monthly_revenue_growth",
    """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT month,
       round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS revenue,
       floor(CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS DOUBLE)
             / lag(rev_cents) OVER (ORDER BY month) * 1000000 + 0.5) / 1000000.0
         AS mom_growth
FROM m
""",
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-window composition: monthly revenue (exact integer
    cents) with month-over-month growth via lag over the ~80-row aggregated
    series — the window runs on the tiny post-aggregation frame, never on
    the fact table. Growth ratio uses the floor-rounding convention."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents")
    )
    # Global window — INTENTIONAL: input is the monthly aggregate (~80 rows,
    # bounded by months in the data horizon), not the orders table.
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    growth = (
        F.floor(
            (F.col("rev_cents") - prev).cast("double") / prev * F.lit(1000000) + 0.5
        )
        / 1000000.0
    )
    return m.select(
        "month",
        F.round(F.col("rev_cents").cast("double") / 100.0, 2).alias("revenue"),
        growth.alias("mom_growth"),
    )


@query(
    "q14_promo_share",
    """
SELECT round(CAST((sum(CASE WHEN p.p_type LIKE 'PROMO%' THEN {u} ELSE 0 END) + 50)
             // 100 AS DOUBLE) / 100.0, 2) AS promo_revenue,
       {rev} AS total_revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
""".format(
        u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount"),
        rev=_SQL_UNITS_REV.format(
            u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")
        ),
    ),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-revenue share — conditional sum over a
    broadcast dimension join (part), month filter pushed to the lineitem
    scan, single-row result. The promo/total ratio is left to the consumer
    so both sums stay independently checkable."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 3, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1997, 4, 1)))
    )
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .withColumn("__units__", _disc_units())
        .withColumn(
            "__promo__",
            F.when(F.col("p_type").startswith("PROMO"), F.col("__units__")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        .agg(
            F.expr(
                "round(CAST((sum(__promo__) + 50) div 100 AS DOUBLE) / 100.0, 2)"
            ).alias("promo_revenue"),
            F.expr(_UNITS_REV).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    """
SELECT {rev} AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""".format(
        rev=_SQL_UNITS_REV.format(
            u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")
        )
    ),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunction predicates spanning both join
    sides. Catalyst derives the common single-side implications (brand set
    on part, quantity hull on lineitem) and pushes them to the scans; the
    full disjunction evaluates as the join residual. Part is broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    blocks = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(blocks)
        .withColumn("__units__", _disc_units())
        .agg(
            F.expr(_UNITS_REV).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q6_forecast_revenue",
    """
SELECT round(CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_discount * 100) AS BIGINT)) + 50)
             // 100 AS DOUBLE) / 100.0, 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-aggregate — every predicate pushed into the
    parquet scan (range on shipdate, between on discount, bound on
    quantity), a 3-column ReadSchema of 11, and a single-row global
    aggregate. The cheapest possible plan: no join, no wide shuffle, one
    partial-agg exchange of one row per task."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .withColumn(
            "__units__",
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * F.round(F.col("l_discount") * 100).cast("long"),
        )
        .agg(
            F.expr(_UNITS_REV).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "cumulative_users",
    """
WITH {base},
seen AS (SELECT user_id, date_trunc('day', time) AS day FROM base GROUP BY 1, 2),
first AS (SELECT user_id, min(day) AS first_day FROM seen GROUP BY user_id),
per AS (SELECT first_day AS day, count(*) AS new_users FROM first GROUP BY 1)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
FROM per
""".format(base=EVENTS_BASE),
)
def cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day without a running COUNT(DISTINCT):
    first-seen day per user (one aggregate), new-user counts per day (tiny),
    running sum over the per-day rows — the same first-occurrence trick as
    vocab_growth, and the scalable form of every 'growth curve' dashboard."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    seen = s.select("user_id", F.date_trunc("day", F.col("time")).alias("day")).distinct()
    first = seen.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    # Global (unpartitioned) window — INTENTIONAL: it runs on the per-day
    # aggregate, bounded by calendar days (~30 rows here, ~36k for a century),
    # never on the event stream. The single-partition WindowExec WARN is
    # expected and harmless at this cardinality.
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per.withColumn("cum_users", F.sum("new_users").over(w))


@query(
    "q4_order_priority",
    """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS over the fact table as a LEFT SEMI join with a
    non-equi residual (l_shipdate > o_orderdate). The quarter filter prunes
    orders at the scan; the semi join emits each order once regardless of
    how many lineitems match, so the aggregate input is bounded by orders,
    not lineitems."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 4, 1)))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q10_returned_revenue",
    """
WITH g AS (
  SELECT c.c_custkey, c.c_name, n.n_name AS nation,
         sum({u}) AS s
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY c.c_custkey, c.c_name, n.n_name
)
SELECT c_custkey, c_name, nation,
       round(CAST((s + 50) // 100 AS DOUBLE) / 100.0, 2) AS revenue
FROM g ORDER BY s DESC, c_custkey LIMIT 20
""".format(u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")),
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue-by-customer. Both fact filters pushed
    to the scans; high-cardinality group key (customer) with a partial
    aggregate below the shuffle; top-20 as TakeOrderedAndProject with a
    deterministic custkey tiebreak."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 7, 1)))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("__units__", _disc_units())
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum("__units__").alias("__s__"),
            F.expr(_UNITS_REV).alias("revenue"),
        )
        .orderBy(F.col("__s__").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "nation", "revenue")
    )


@query(
    "semi_join_customers",
    """
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
)
""",
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (SURVEY.md §2.5 'semi/anti … available if needed'):
    customers with at least one high-value order. Semi joins emit each left
    row at most once and never widen the schema — the shuffle carries only
    the filtered orders keys."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "anti_join_customers",
    """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
)
""",
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no order since 2001 (churn-style
    NOT EXISTS). The date filter is pushed to the orders scan, so the anti
    join probes only the recent slice."""
    c = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(datetime(2001, 1, 1))
    )
    return c.join(recent, c.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "skew_salted_agg",
    """
WITH {base},
cents AS (SELECT event_type, value, CAST(round(value * 100) AS BIGINT) AS v100 FROM base)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(v100) AS BIGINT) AS total_cents,
       min(value) AS min_value,
       max(value) AS max_value,
       floor(CAST(sum(v100) AS DOUBLE) / count(*) / 100.0 * 1000000 + 0.5) / 1000000.0 AS avg_value
FROM cents GROUP BY event_type
""".format(base=EVENTS_BASE),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.py salted_agg) over the
    deliberately hot event_type key (5 values for every event row — the
    worst-case aggregation skew AQE cannot split). Partials aggregate on
    (event_type, salt) so the hot key spreads over 16 tasks; the final merge
    groups 5×16 tiny rows. Result must equal a plain GROUP BY, which is what
    the oracle runs: sums accumulate integer cents (order-independent across
    salt buckets), avg recombines from exact (sum, count)."""
    from datapipeline_spark.operators.skew import salted_agg

    s = events_stream(spark, sf_dir)
    cents = s.withColumn("v100", F.round(F.col("value") * 100).cast("long"))
    out = salted_agg(
        cents,
        ["event_type"],
        {
            "n_events": ("count", "v100"),
            "total_cents": ("sum", "v100"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
            "avg_cents": ("avg", "v100"),
        },
        salt=16,
    )
    return out.select(
        "event_type",
        "n_events",
        "total_cents",
        "min_value",
        "max_value",
        (F.floor(F.col("avg_cents") / 100.0 * 1e6 + 0.5) / 1e6).alias("avg_value"),
    )


@query(
    "bucketed_join_revenue",
    """
SELECT o.o_orderstatus, {rev} AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
""".format(
        rev=_SQL_UNITS_REV.format(
            u=_SQL_DISC_UNITS.format(p="l.l_extendedprice", d="l.l_discount")
        )
    ),
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage-layout lever as an oracle-checked query: orders and
    lineitem are staged ONCE per sf_dir as co-bucketed tables (hashed on
    orderkey into 8 sorted buckets, io/writers.write_bucketed_table) and the
    fact-to-fact join then reads pre-hashed co-located buckets — Catalyst
    plans it with ZERO shuffle Exchange on either side (asserted in
    tests/test_plan_quality.py). Numerically identical to the plain join
    the oracle runs. At 100 TB this is the recurring-join answer: pay the
    hash-distribution once at write time, never at query time."""
    import hashlib as _h
    import os as _os

    from datapipeline_spark.io.writers import ensure_bucketed_table

    # cache key covers source file stats: regenerated driver data invalidates
    stamp = _os.path.abspath(sf_dir)
    for t in ("orders", "lineitem"):
        try:
            st = _os.stat(_os.path.join(sf_dir, f"{t}.parquet"))
            stamp += f"|{st.st_size}|{st.st_mtime_ns}"
        except OSError:
            pass
    key = _h.sha256(stamp.encode()).hexdigest()[:10]
    tables = {}
    for t, bucket_col, sort_col in (
        ("orders", "o_orderkey", "o_orderkey"),
        ("lineitem", "l_orderkey", "l_orderkey"),
    ):
        name = f"bjr_{t}_{key}"
        # cross-process staging cache: finished bucket files on disk are
        # re-registered by DDL (no rewrite) — a fresh bench process used to
        # pay the full 3.9 s staging write again every invocation
        tables[t] = ensure_bucketed_table(
            spark,
            lambda t=t: load_table(spark, sf_dir, t),
            name,
            bucket_by=[bucket_col],
            num_buckets=8,
            sort_by=[sort_col],
            path=f"/tmp/spark_graft_bucketed/{name}",
        )
    l = tables["lineitem"]
    o = tables["orders"]
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .withColumn("__units__", _disc_units())
        .groupBy("o_orderstatus")
        .agg(
            F.expr(_UNITS_REV).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "gap_report",
    """
WITH {base},
g AS (
  SELECT user_id, time,
         lag(time) OVER (PARTITION BY user_id ORDER BY time, event_id) AS prev
  FROM base
)
SELECT user_id, prev AS gap_start, time AS gap_end,
       (epoch_us(time) - epoch_us(prev)) // 1000000 AS gap_seconds
FROM g
WHERE prev IS NOT NULL AND epoch_us(time) - epoch_us(prev) > 7200000000
""".format(base=EVENTS_BASE),
)
def gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness audit: per-partition gaps longer than a threshold,
    from one lag over the canonical (partition, time) window — the
    diagnostic companion to ensure_cadence/ensure_ticks (which repair the
    gaps this reports). Gaps compute on integer epoch-MICROseconds
    (timestamps carry sub-second precision; a seconds-truncating diff
    would disagree with the oracle), floored to whole seconds on output."""
    s = events_stream(spark, sf_dir)
    w = canonical_window(["user_id"], ORDER)
    prev = F.lag("time").over(w)
    gap_us = F.unix_micros(F.col("time")) - F.unix_micros(F.col("prev"))
    return (
        s.withColumn("prev", prev)
        .filter(F.col("prev").isNotNull())
        .withColumn("gap_us", gap_us)
        .filter(F.col("gap_us") > 7200 * 1000000)
        .withColumn("gap_seconds", F.expr("gap_us DIV 1000000"))
        .select(
            "user_id",
            F.col("prev").alias("gap_start"),
            F.col("time").alias("gap_end"),
            F.col("gap_seconds").cast("long"),
        )
    )


@query(
    "funnel_conversion",
    """
WITH {base},
c AS (SELECT user_id, min(time) AS first_click FROM base
      WHERE event_type = 'click' GROUP BY user_id),
p AS (
  SELECT c.user_id, min(b.time) AS first_conv
  FROM c JOIN base b ON b.user_id = c.user_id
   AND b.event_type = 'purchase'
   AND b.time >= c.first_click
   AND b.time <= c.first_click + INTERVAL 1 HOUR
  GROUP BY c.user_id
)
SELECT c.user_id, c.first_click, p.first_conv,
       CASE WHEN p.first_conv IS NOT NULL THEN 1 ELSE 0 END AS converted
FROM c LEFT JOIN p ON c.user_id = p.user_id
""".format(base=EVENTS_BASE),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: each user's first click and the first purchase
    within the following hour (pure timestamp logic, no float math). Both
    steps are min-aggregates keyed by user — partial-aggregated before
    their shuffles — and the step join is per-user, never a time-range
    explosion over the raw stream."""
    s = events_stream(spark, sf_dir)
    clicks = (
        s.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("time").alias("first_click"))
    )
    buys = s.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("time").alias("btime")
    )
    conv = (
        clicks.join(buys, "user_id")
        .filter(
            (F.col("btime") >= F.col("first_click"))
            & (F.col("btime") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("btime").alias("first_conv"))
    )
    return (
        clicks.join(conv, "user_id", "left")
        .select(
            "user_id",
            "first_click",
            "first_conv",
            F.when(F.col("first_conv").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
                "converted"
            ),
        )
    )


@query(
    "weekly_retention",
    """
WITH {base},
seen AS (SELECT user_id, date_trunc('day', time) AS day FROM base GROUP BY 1, 2),
cohort AS (SELECT user_id, min(day) AS cohort_day FROM seen GROUP BY user_id),
ret AS (
  SELECT c.cohort_day, c.user_id,
         max(CASE WHEN s.day >= c.cohort_day + INTERVAL 7 DAY
                   AND s.day < c.cohort_day + INTERVAL 14 DAY
                  THEN 1 ELSE 0 END) AS retained
  FROM cohort c JOIN seen s ON c.user_id = s.user_id
  GROUP BY 1, 2
)
SELECT cohort_day, count(*) AS n_users, CAST(sum(retained) AS BIGINT) AS n_retained
FROM ret GROUP BY cohort_day
""".format(base=EVENTS_BASE),
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted as
    retained if active in week 2 (days 7-13 after cohort entry). Exact
    integer/timestamp logic end-to-end; the (user, day) dedup aggregate
    collapses the stream before anything else touches it."""
    s = events_stream(spark, sf_dir)
    seen = s.select(
        "user_id", F.date_trunc("day", F.col("time")).alias("day")
    ).distinct()
    cohort = seen.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    week2 = F.when(
        (F.col("day") >= F.col("cohort_day") + F.expr("INTERVAL 7 DAY"))
        & (F.col("day") < F.col("cohort_day") + F.expr("INTERVAL 14 DAY")),
        F.lit(1),
    ).otherwise(F.lit(0))
    ret = (
        cohort.join(seen, "user_id")
        .groupBy("cohort_day", "user_id")
        .agg(F.max(week2).alias("retained"))
    )
    return ret.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("retained").alias("n_retained")
    )


@query(
    "drift_psi",
    """
WITH {base},
b AS (
  SELECT event_type,
         CAST(floor(value / 50) AS BIGINT) AS bin,
         CASE WHEN time < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_a
  FROM base
),
c AS (SELECT event_type, bin, sum(is_a) AS ca, sum(1 - is_a) AS cb FROM b GROUP BY 1, 2),
t AS (SELECT event_type, sum(ca) AS na, sum(cb) AS nb FROM c GROUP BY 1),
grid AS (SELECT DISTINCT event_type, g.i AS bin FROM c CROSS JOIN generate_series(0, 9) g(i)),
f AS (
  SELECT g.event_type, g.bin, coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.bin = c.bin
),
terms AS (
  SELECT f.event_type,
         CAST(round(
           ((ca + 1) * 1.0 / (na + 10) - (cb + 1) * 1.0 / (nb + 10))
           * ln(((ca + 1) * 1.0 / (na + 10)) / ((cb + 1) * 1.0 / (nb + 10)))
           * 1000000000) AS BIGINT) AS term9
  FROM f JOIN t ON f.event_type = t.event_type
)
SELECT event_type, round(CAST(sum(term9) AS DOUBLE) / 1000000000.0, 6) AS psi
FROM terms GROUP BY event_type
""".format(base=EVENTS_BASE),
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: population stability index of the value
    distribution between the first and second half of the time range, per
    event type — the standard production check that a feature's distribution
    hasn't shifted between training and serving windows. Laplace-smoothed
    (+1 per bin) over a fixed 10-bin grid so empty bins stay defined; each
    PSI term is rounded to 1e-9 and summed as scaled integers (term sums
    must not depend on accumulation order). Two tiny aggregates — the event
    stream itself is read once, map-side binned, and shuffled pre-aggregated."""
    mid = datetime(2024, 1, 16)
    s = events_stream(spark, sf_dir)
    b = s.select(
        "event_type",
        F.floor(F.col("value") / 50).cast("long").alias("bin"),
        F.when(F.col("time") < F.lit(mid), F.lit(1)).otherwise(F.lit(0)).alias("is_a"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    t = c.groupBy("event_type").agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    grid = (
        c.select("event_type")
        .distinct()
        .crossJoin(spark.range(10).select(F.col("id").cast("long").alias("bin")))
    )
    f = (
        grid.join(c, ["event_type", "bin"], "left")
        .fillna(0, ["ca", "cb"])
        .join(F.broadcast(t), "event_type")
    )
    pa = (F.col("ca") + 1) * F.lit(1.0) / (F.col("na") + 10)
    qb = (F.col("cb") + 1) * F.lit(1.0) / (F.col("nb") + 10)
    term9 = F.round((pa - qb) * F.log(pa / qb) * F.lit(1000000000)).cast("long")
    return (
        f.select("event_type", term9.alias("term9"))
        .groupBy("event_type")
        .agg(F.round(F.sum("term9").cast("double") / F.lit(1000000000.0), 6).alias("psi"))
    )


@query(
    "winsorize_values",
    """
WITH {base},
r AS (SELECT event_id, event_type, value FROM base),
h AS (SELECT event_type, value, count(*) AS c FROM r GROUP BY 1, 2),
cum AS (
  SELECT event_type, value,
         sum(c) OVER (PARTITION BY event_type ORDER BY value) AS cum
  FROM h
),
tot AS (SELECT event_type, count(*) AS n FROM r GROUP BY 1),
lo AS (SELECT c.event_type, min(value) AS v FROM cum c JOIN tot t USING (event_type)
       WHERE 100 * cum >= n GROUP BY 1),
hi AS (SELECT c.event_type, min(value) AS v FROM cum c JOIN tot t USING (event_type)
       WHERE 100 * cum >= 99 * n GROUP BY 1)
SELECT r.event_id, r.event_type, r.value,
       least(greatest(r.value, lo.v), hi.v) AS clipped
FROM r JOIN lo USING (event_type) JOIN hi USING (event_type)
""".format(base=EVENTS_BASE),
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip each value into its group's inclusive
    [p1, p99] band — the robust-scaling companion to the standard scaler
    (outliers saturate instead of dominating the fit). Exact group
    percentiles come from the scale-safe histogram pattern (groupBy(group,
    value) counts + a window over the small per-group histogram + integer
    threshold comparisons), then broadcast back — no global sort, no float
    interpolation, correct at any group size."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    r = s.select("event_id", "event_type", "value")
    hist = r.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("event_type")
            .orderBy("value")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = r.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    b = cum.join(F.broadcast(tot), "event_type")
    lo = (
        b.filter(100 * F.col("cum") >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"))
    )
    hi = (
        b.filter(100 * F.col("cum") >= 99 * F.col("n"))
        .groupBy("event_type")
        .agg(F.min("value").alias("hi"))
    )
    return (
        r.join(F.broadcast(lo), "event_type")
        .join(F.broadcast(hi), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("clipped"),
        )
    )


@query(
    "value_histogram",
    """
WITH {base}
SELECT event_type,
       CAST(floor(value / 50) AS BIGINT) * 50 AS bin_lo,
       count(*) AS n,
       min(value) AS min_value,
       max(value) AS max_value
FROM base
GROUP BY event_type, CAST(floor(value / 50) AS BIGINT) * 50
""".format(base=EVENTS_BASE),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per group — the profiling aggregate
    behind the availability-matrix/coverage reports. Bin assignment is a
    pure projection (floor of identical doubles in both engines); one
    partial-aggregated shuffle keyed (event_type, bin)."""
    s = events_stream(spark, sf_dir)
    bin_lo = (F.floor(F.col("value") / 50).cast("long") * 50).alias("bin_lo")
    return s.groupBy("event_type", bin_lo).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------- preprocess / projections


@query(
    "where_filter",
    """
WITH {base}
SELECT event_id, user_id, time, value FROM base
WHERE event_type IN ('click', 'purchase') AND value > 100
  AND time >= TIMESTAMP '2024-01-10 00:00:00'
""".format(base=EVENTS_BASE),
)
def where_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.where(s, "event_type", "in", ["click", "purchase"])
    s = ops.where(s, "value", "gt", 100)
    s = ops.where(s, "time", "ge", "2024-01-10T00:00:00Z")
    return s.select("event_id", "user_id", "time", "value")


@query(
    "floor_shift_time",
    """
WITH {base}
SELECT event_id,
       make_timestamp((floor(epoch(time) / 600) * 600)::BIGINT * 1000000)  AS bucket_10m,
       date_trunc('hour', time)                                            AS bucket_1h,
       time - INTERVAL 1 HOUR                                              AS shifted
FROM base
""".format(base=EVENTS_BASE),
)
def floor_shift_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    return s.select(
        "event_id",
        floor_time_expr("time", "10m").alias("bucket_10m"),
        floor_time_expr("time", "1h").alias("bucket_1h"),
        shift_time_expr("time", "-1h").alias("shifted"),
    )


@query(
    "dedupe_distinct",
    """
WITH {base}
SELECT DISTINCT user_id, event_type, date_trunc('day', time) AS day FROM base
""".format(base=EVENTS_BASE),
)
def dedupe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir).select(
        "user_id", "event_type", floor_time_expr("time", "1d").alias("day")
    )
    return ops.dedupe(s)


# ------------------------------------------------------------------ window ops


@query(
    "lag_lead",
    """
WITH {base}
SELECT event_id, user_id, time, value,
       lag(value, 1)  OVER ({w}) AS prev_value,
       lead(value, 2) OVER ({w}) AS next2_value
FROM base
""".format(base=EVENTS_BASE, w=W),
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.lag(s, "value", 1, ["user_id"], out="prev_value", order_by=ORDER)
    s = ops.lead(s, "value", 2, ["user_id"], out="next2_value", order_by=ORDER)
    return s.select("event_id", "user_id", "time", "value", "prev_value", "next2_value")


@query(
    "rolling_mean",
    """
WITH {base}
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER w4 >= 2
                  THEN avg(value_n) OVER w4 END, 6) AS roll_mean
FROM base
WINDOW w4 AS ({w} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.rolling(s, "value_n", 4, "mean", 2, ["user_id"], out="roll_mean", order_by=ORDER)
    return s.select("event_id", "user_id", F.round("roll_mean", 6).alias("roll_mean"))


@query(
    "rolling_median",
    """
WITH {base}
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER w5 >= 1
                  THEN quantile_cont(value_n, 0.5) OVER w5 END, 6) AS roll_median
FROM base
WINDOW w5 AS ({w} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.rolling(s, "value_n", 5, "median", 1, ["user_id"], out="roll_median", order_by=ORDER)
    return s.select("event_id", "user_id", F.round("roll_median", 6).alias("roll_median"))


@query(
    "rolling_minmax_sum",
    """
WITH {base}
SELECT event_id, user_id,
       CASE WHEN count(value_n) OVER w6 >= 1 THEN min(value_n) OVER w6 END AS roll_min,
       CASE WHEN count(value_n) OVER w6 >= 1 THEN max(value_n) OVER w6 END AS roll_max,
       round(CASE WHEN count(value_n) OVER w3 >= 3 THEN sum(value_n) OVER w3 END, 6) AS roll_sum
FROM base
WINDOW w6 AS ({w} ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
       w3 AS ({w} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_minmax_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.rolling(s, "value_n", 6, "min", 1, ["user_id"], out="roll_min", order_by=ORDER)
    s = ops.rolling(s, "value_n", 6, "max", 1, ["user_id"], out="roll_max", order_by=ORDER)
    s = ops.rolling(s, "value_n", 3, "sum", 3, ["user_id"], out="roll_sum", order_by=ORDER)
    return s.select(
        "event_id", "user_id", "roll_min", "roll_max", F.round("roll_sum", 6).alias("roll_sum")
    )


@query(
    "rolling_stdev",
    """
WITH {base}
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER w5 >= 2 THEN stddev_samp(value_n) OVER w5 END, 6) AS roll_sd,
       round(CASE WHEN count(value_n) OVER w5 >= 2 THEN stddev_pop(value_n)  OVER w5 END, 6) AS roll_psd
FROM base
WINDOW w5 AS ({w} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_stdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.rolling(s, "value_n", 5, "stdev", 2, ["user_id"], out="roll_sd", order_by=ORDER)
    s = ops.rolling(s, "value_n", 5, "pstdev", 2, ["user_id"], out="roll_psd", order_by=ORDER)
    return s.select(
        "event_id",
        "user_id",
        F.round("roll_sd", 6).alias("roll_sd"),
        F.round("roll_psd", 6).alias("roll_psd"),
    )


@query(
    "rolling_slope",
    """
WITH {base},
runs AS (
  SELECT *, (epoch(time) - 1704067200)::DOUBLE AS x,
         sum(CASE WHEN value_n IS NULL THEN 1 ELSE 0 END)
           OVER ({w} ROWS UNBOUNDED PRECEDING) AS run_id
  FROM base
)
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER wr >= 3
                  THEN covar_pop(x, value_n) OVER wr / nullif(var_pop(x) OVER wr, 0)
             END, 6) AS slope
FROM runs
WINDOW wr AS (PARTITION BY user_id, run_id ORDER BY time, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    # x = seconds since 2024-01-01 (rebased for numerical stability)
    s = s.withColumn(
        "x", (F.col("time").cast("double") - F.lit(1704067200.0))
    )
    s = ops.rolling_slope(s, "x", "value_n", 3, ["user_id"], out="slope", order_by=ORDER)
    return s.select("event_id", "user_id", F.round("slope", 6).alias("slope"))


@query(
    "rolling_zscore",
    """
WITH {base}
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER w4 >= 3
                  THEN (value_n - avg(value_n) OVER w4)
                       / nullif(stddev_samp(value_n) OVER w4, 0)
             END, 6) AS zscore
FROM base
WINDOW w4 AS ({w} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling standardization: each value against its own trailing-window
    mean/std — the online form of the dataset layer's scaler (which fits
    global per-fold stats), used when the distribution drifts and a fixed
    fit goes stale. Same frame/gating conventions as the other rolling ops;
    shares their single Exchange+Sort."""
    s = events_stream(spark, sf_dir)
    w = canonical_window(["user_id"], ORDER).rowsBetween(-3, 0)
    cnt = F.count("value_n").over(w)
    z = (F.col("value_n") - F.avg("value_n").over(w)) / F.nullif(
        F.stddev_samp("value_n").over(w), F.lit(0.0)
    )
    return s.select(
        "event_id",
        "user_id",
        F.round(F.when(cnt >= 3, z), 6).alias("zscore"),
    )


@query(
    "rolling_corr",
    """
WITH {base},
runs AS (
  SELECT *, (epoch(time) - 1704067200)::DOUBLE AS x,
         sum(CASE WHEN value_n IS NULL THEN 1 ELSE 0 END)
           OVER ({w} ROWS UNBOUNDED PRECEDING) AS run_id
  FROM base
)
SELECT event_id, user_id,
       round(CASE WHEN count(value_n) OVER wr >= 4
                  THEN covar_pop(x, value_n) OVER wr /
                       nullif(stddev_pop(x) OVER wr * stddev_pop(value_n) OVER wr, 0)
             END, 6) AS corr
FROM runs
WINDOW wr AS (PARTITION BY user_id, run_id ORDER BY time, event_id
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""".format(base=EVENTS_BASE, w=W),
)
def rolling_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling Pearson correlation of value against time (trend strength),
    window 4, with the reference's missing-run reset semantics — the
    companion statistic to rolling_slope (operators/window.py
    rolling_corr)."""
    s = events_stream(spark, sf_dir)
    s = s.withColumn("x", (F.col("time").cast("double") - F.lit(1704067200.0)))
    s = ops.rolling_corr(s, "x", "value_n", 4, ["user_id"], out="corr", order_by=ORDER)
    return s.select("event_id", "user_id", F.round("corr", 6).alias("corr"))


@query(
    "forward_sum",
    """
WITH {base}
SELECT event_id, user_id,
       round(CASE WHEN count(*) OVER wf = 3 AND count(value_n) OVER wf = 3
                  THEN sum(value_n) OVER wf END, 6) AS fwd_sum
FROM base
WINDOW wf AS ({w} ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
""".format(base=EVENTS_BASE, w=W),
)
def forward_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.forward_sum(s, "value_n", 3, ["user_id"], out="fwd_sum", order_by=ORDER)
    return s.select("event_id", "user_id", F.round("fwd_sum", 6).alias("fwd_sum"))


@query(
    "fill_missing",
    """
WITH {base}
SELECT event_id, user_id,
       round(coalesce(value_n, CASE WHEN count(value_n) OVER wp >= 1
                                    THEN avg(value_n) OVER wp END), 6)           AS filled_mean,
       round(coalesce(value_n, CASE WHEN count(value_n) OVER wp >= 2
                                    THEN quantile_cont(value_n, 0.5) OVER wp END), 6) AS filled_median,
       last_value(value_n IGNORE NULLS) OVER ({w} ROWS UNBOUNDED PRECEDING)      AS ffilled
FROM base
WINDOW wp AS ({w} ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
""".format(base=EVENTS_BASE, w=W),
)
def fill_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.fill(s, "value_n", 4, "mean", 1, ["user_id"], out="filled_mean", order_by=ORDER)
    s = ops.fill(s, "value_n", 4, "median", 2, ["user_id"], out="filled_median", order_by=ORDER)
    s = ops.forward_fill(s, "value_n", ["user_id"], out="ffilled", order_by=ORDER)
    return s.select(
        "event_id",
        "user_id",
        F.round("filled_mean", 6).alias("filled_mean"),
        F.round("filled_median", 6).alias("filled_median"),
        "ffilled",
    )


@query(
    "derive_log",
    """
WITH {base}
SELECT event_id,
       round(value * 2 + 1, 6)              AS derived,
       CASE WHEN value > 0    THEN round(ln(value), 6)       END AS log_value,
       CASE WHEN value_n > -1 THEN round(ln(1 + value_n), 6) END AS log1p_value,
       round(value / nullif(value_n, 0), 6) AS ratio
FROM base
""".format(base=EVENTS_BASE),
)
def derive_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)
    s = ops.derive(s, "value", "mul", 2, out="derived")
    s = ops.derive(s, "derived", "add", 1, out="derived")
    s = ops.log_op(s, "value", out="log_value")
    s = ops.log1p_op(s, "value_n", out="log1p_value")
    s = s.withColumn("value_n", F.nullif(F.col("value_n"), F.lit(0.0)))
    s = ops.derive(s, "value", "div", "value_n", out="ratio")
    return s.select(
        "event_id",
        F.round("derived", 6).alias("derived"),
        F.round("log_value", 6).alias("log_value"),
        F.round("log1p_value", 6).alias("log1p_value"),
        F.round("ratio", 6).alias("ratio"),
    )


# --------------------------------------------------------- collapse / cadence


@query(
    "collapse_last",
    """
WITH {hourly}
SELECT user_id, time, value FROM hourly
""".format(hourly=HOURLY_BASE),
)
def collapse_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_stream(spark, sf_dir)


@query(
    "ensure_cadence",
    """
WITH {hourly},
span AS (SELECT user_id, min(time) AS t0, max(time) AS t1 FROM hourly GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS time FROM span)
SELECT g.user_id, g.time, h.value
FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.time = h.time
""".format(hourly=HOURLY_BASE),
)
def ensure_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Oracle note: interior gap-fill == full per-user hourly grid (min..max)
    # left-joined back, because collapse leaves hour-floored unique rows; the
    # grid form runs one generate_series per USER (linear, 0.7 s at sf0.1)
    # instead of one per gap row (77 s) — same rows, same hash.
    return ops.ensure_cadence(hourly_stream(spark, sf_dir), "1h", ["user_id"])


# ----------------------------------------------------------- align / broadcast


@query(
    "align_streams",
    """
WITH {base},
clicks AS (
  SELECT user_id, date_trunc('hour', time) AS time, round(sum(value), 6) AS click_sum
  FROM base WHERE event_type = 'click' GROUP BY 1, 2
),
views AS (
  SELECT user_id, date_trunc('hour', time) AS time, round(sum(value), 6) AS view_sum
  FROM base WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.user_id, c.time, c.click_sum, v.view_sum
FROM clicks c JOIN views v ON c.user_id = v.user_id AND c.time = v.time
""".format(base=EVENTS_BASE),
)
def align_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = events_stream(spark, sf_dir)

    def agg(kind: str, out: str) -> DataFrame:
        return (
            s.filter(F.col("event_type") == kind)
            .groupBy("user_id", floor_time_expr("time", "1h").alias("time"))
            .agg(F.round(F.sum("value"), 6).alias(out))
        )

    aligned = ops.align_streams(
        {"click": agg("click", "s"), "view": agg("view", "s")}, ["user_id"]
    )
    return aligned.select(
        "user_id", "time",
        F.col("click_s").alias("click_sum"), F.col("view_s").alias("view_sum"),
    )


@query(
    "broadcast_center",
    """
WITH {hourly},
g_avg AS (
  SELECT time,
         floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               / count(*) * 1000000 + 0.5) / 1000000.0 AS g_mean
  FROM hourly GROUP BY time
)
SELECT h.user_id, h.time,
       floor((h.value - g.g_mean) * 1000000 + 0.5) / 1000000.0 AS centered
FROM hourly h JOIN g_avg g ON h.time = g.time
""".format(hourly=HOURLY_BASE),
)
def broadcast_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global hourly centering via broadcast_stream. The global mean
    accumulates fixed-decimal values as integer cents (order-independent,
    exact across partial-aggregate merges) and rounds via
    floor(x*1e6+0.5)/1e6 so both engines agree on exact-tie decimals."""
    h = hourly_stream(spark, sf_dir)
    v100 = F.round(F.col("value") * 100).cast("long")
    g_mean = (
        F.floor(F.sum(v100).cast("double") / 100.0 / F.count(F.lit(1)) * 1e6 + 0.5) / 1e6
    )
    glob = h.groupBy("time").agg(g_mean.alias("g_mean"))
    # the global side derives from the primary: stage it so the hourly
    # collapse is computed once, not twice (4 FileScans -> 2)
    joined = ops.broadcast_stream(
        h, glob, time_field="time", prefix="g_", strict=True, stage=True
    )
    return joined.select(
        "user_id",
        "time",
        (F.floor((F.col("value") - F.col("g_g_mean")) * 1e6 + 0.5) / 1e6).alias("centered"),
    )


# -------------------------------------------------- dataset layer (pivot etc.)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "sample_pivot",
    """
WITH {base}
SELECT user_id, date_trunc('day', time) AS time,
       round(avg(CASE WHEN event_type = 'click'    THEN value END), 6) AS ev_click,
       round(avg(CASE WHEN event_type = 'error'    THEN value END), 6) AS ev_error,
       round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS ev_purchase,
       round(avg(CASE WHEN event_type = 'signup'   THEN value END), 6) AS ev_signup,
       round(avg(CASE WHEN event_type = 'view'     THEN value END), 6) AS ev_view
FROM base GROUP BY 1, 2
""".format(base=EVENTS_BASE),
)
def sample_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample assembly: long series → wide row per (key, bucket) via pivot
    (reference operations/artifacts/series.py:216-333)."""
    s = events_stream(spark, sf_dir)
    wide = (
        s.groupBy("user_id", floor_time_expr("time", "1d").alias("time"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.avg("value"), 6))
    )
    renames = {t: f"ev_{t}" for t in EVENT_TYPES}
    return wide.withColumnsRenamed(renames)


@query(
    "scaler_standardize",
    """
WITH {base},
stats AS (
  SELECT event_type, avg(value) AS mean, greatest(stddev_pop(value), 1e-12) AS std
  FROM base GROUP BY event_type
)
SELECT b.event_id, b.event_type, round((b.value - s.mean) / s.std, 6) AS z
FROM base b JOIN stats s ON b.event_type = s.event_type
""".format(base=EVENTS_BASE),
)
def scaler_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard scaler: fit = one agg pass, apply = broadcast join of the tiny
    stats table (reference transforms/vector/scaler.py:34-79, std clamped ≥ε)."""
    s = events_stream(spark, sf_dir)
    stats = s.groupBy("event_type").agg(
        F.avg("value").alias("mean"),
        F.greatest(F.stddev_pop("value"), F.lit(1e-12)).alias("std"),
    )
    return (
        s.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round((F.col("value") - F.col("mean")) / F.col("std"), 6).alias("z"),
        )
    )


@query(
    "split_time_label",
    """
WITH {base}
SELECT event_id,
       CASE WHEN time < TIMESTAMP '2024-01-15 00:00:00' THEN 'train'
            WHEN time < TIMESTAMP '2024-01-23 00:00:00' THEN 'validation'
            ELSE 'test' END AS label
FROM base
""".format(base=EVENTS_BASE),
)
def split_time_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeLabeler: interval membership by boundary chain
    (reference pipelines/dataset/split.py:42-63)."""
    s = events_stream(spark, sf_dir)
    label = (
        F.when(F.col("time") < F.lit(datetime(2024, 1, 15)), "train")
        .when(F.col("time") < F.lit(datetime(2024, 1, 23)), "validation")
        .otherwise("test")
    )
    return s.select("event_id", label.alias("label"))


@query(
    "split_hash_label",
    """
WITH {base},
keys AS (SELECT DISTINCT user_id FROM base),
hashed AS (
  SELECT user_id,
         (('0x' || substr(sha256('42|' || user_id::VARCHAR), 1, 13))::UBIGINT)::BIGINT AS h
  FROM keys
)
SELECT user_id, CASE WHEN h % 10 < 8 THEN 'train' ELSE 'eval' END AS label
FROM hashed
""".format(base=EVENTS_BASE),
)
def split_hash_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashLabeler: deterministic sha256 bucket of the sample key
    (reference pipelines/dataset/split.py:14-39) — 52-bit prefix arithmetic,
    bit-identical across engines."""
    s = events_stream(spark, sf_dir).select("user_id").distinct()
    h = F.conv(F.substring(F.sha2(F.concat(F.lit("42|"), F.col("user_id").cast("string")), 256), 1, 13), 16, 10).cast("long")
    label = F.when(h % 10 < 8, "train").otherwise("eval")
    return s.select("user_id", label.alias("label"))


# ------------------------------------------------- beyond-reference temporal


@query(
    "forward_fill",
    """
WITH {base}
SELECT event_id, user_id,
       last_value(value_n IGNORE NULLS)
         OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill
FROM base
""".format(base=EVENTS_BASE, w=W),
)
def forward_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carry last non-missing value (reference transforms/stream/fill.py:72-100)."""
    s = events_stream(spark, sf_dir)
    s = ops.forward_fill(s, "value_n", ["user_id"], out="ffill", order_by=ORDER)
    return s.select("event_id", "user_id", "ffill")


@query(
    "asof_join",
    """
WITH {base},
hourly AS (
  SELECT user_id, time, value FROM (
    SELECT user_id, date_trunc('hour', ts) AS time, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
shifted AS (SELECT user_id, time + INTERVAL 30 MINUTE AS time, value FROM hourly)
SELECT b.event_id, b.user_id, b.time, s.value AS hourly_asof
FROM base b ASOF LEFT JOIN shifted s
  ON b.user_id = s.user_id AND b.time >= s.time
""".format(base=EVENTS_BASE),
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: latest half-hour-shifted hourly value at or
    before each event. The reference reconstructs this with ensure_ticks +
    forward_fill (docs/dataflow.md); here it is a native single-shuffle
    union + last-non-null operator (operators/asof.py)."""
    from datapipeline_spark.operators.asof import asof_join

    left = events_stream(spark, sf_dir).select("event_id", "user_id", "time")
    right = hourly_stream(spark, sf_dir).select(
        "user_id", shift_time_expr("time", "30m").alias("time"), "value"
    )
    joined = asof_join(left, right, ["user_id"], right_fields=["value"], suffix="_x")
    return joined.select(
        "event_id", "user_id", "time", F.col("value_x").alias("hourly_asof")
    )


@query(
    "asof_join_tolerance",
    """
WITH {base},
hourly AS (
  SELECT user_id, time, value FROM (
    SELECT user_id, date_trunc('hour', ts) AS time, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
shifted AS (SELECT user_id, time + INTERVAL 30 MINUTE AS time, value FROM hourly)
SELECT b.event_id, b.user_id, b.time,
       CASE WHEN s.time IS NOT NULL
              AND epoch_us(b.time) - epoch_us(s.time) <= 3600000000
            THEN s.value END AS hourly_asof
FROM base b ASOF LEFT JOIN shifted s
  ON b.user_id = s.user_id AND b.time >= s.time
""".format(base=EVENTS_BASE),
)
def asof_join_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness horizon: matches older than 1h are
    nulled (sensor semantics — a reading loses validity). Same
    single-shuffle union+fill plan; the horizon check runs on exact
    epoch-microseconds against the matched right-row time."""
    from datapipeline_spark.operators.asof import asof_join

    left = events_stream(spark, sf_dir).select("event_id", "user_id", "time")
    right = hourly_stream(spark, sf_dir).select(
        "user_id", shift_time_expr("time", "30m").alias("time"), "value"
    )
    joined = asof_join(
        left, right, ["user_id"], right_fields=["value"], suffix="_x", tolerance="1h"
    )
    return joined.select(
        "event_id", "user_id", "time", F.col("value_x").alias("hourly_asof")
    )


@query(
    "sessionize",
    """
WITH {base},
flags AS (
  SELECT user_id, time, event_id,
         CASE WHEN lag(time) OVER ({w}) IS NULL
                OR epoch_us(time) - epoch_us(lag(time) OVER ({w})) > 7200000000
              THEN 1 ELSE 0 END AS new_s
  FROM base
),
ids AS (
  SELECT user_id, time, event_id,
         CAST(sum(new_s) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM flags
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(time) AS session_start,
       max(time) AS session_end
FROM ids
GROUP BY user_id, session_id
""".format(base=EVENTS_BASE, w=W),
)
def sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (2h gap) + per-session aggregates — session
    windows are absent from the reference (SURVEY.md §2.10)."""
    from datapipeline_spark.operators.asof import sessionize

    s = events_stream(spark, sf_dir).select("user_id", "time", "event_id")
    s = sessionize(s, "2h", ["user_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("time").alias("session_start"),
        F.max("time").alias("session_end"),
    )


@query(
    "topk_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rank
  FROM orders
) WHERE rank <= 3
""",
)
def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — top-k noted absent in the reference
    (SURVEY.md §2.4); WindowGroupLimit keeps it a partial top-k, no full
    per-partition sort at scale."""
    from datapipeline_spark.operators.asof import top_k

    o = load_table(spark, sf_dir, "orders")
    ranked = top_k(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        3,
        order_by=["o_totalprice", "o_orderkey"],
        partition_by=["o_custkey"],
        descending=True,
    )
    return ranked.select("o_custkey", "o_orderkey", "o_totalprice", "rank")


# --------------------------------------------------- analytics beyond reference


@query(
    "ranking_functions",
    """
WITH {base}
SELECT event_id, user_id,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       ntile(4)       OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist()    OVER w, 6) AS cdist
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
""".format(base=EVENTS_BASE),
)
def ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/ntile/cume_dist — noted absent in the reference (SURVEY.md
    §2.7 last row); native window functions here. Total order (value desc,
    event_id) makes every rank cross-engine deterministic."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return s.select(
        "event_id",
        "user_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "cube_revenue",
    """
SELECT r.r_name AS region, o.o_orderpriority AS priority,
       round(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY CUBE (region, priority)
""",
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set lattice via native cube (complements rollup_revenue;
    SURVEY.md §2.6 — grouping sets absent in the reference). Same single
    shuffle: the Expand happens inside the aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.cube(
        F.col("r_name").alias("region"), F.col("o_orderpriority").alias("priority")
    ).agg(
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0,
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "percentile_stats",
    """
WITH {base}
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM base GROUP BY event_type
""".format(base=EVENTS_BASE),
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SURVEY.md §2.6 — absent in the
    reference). Spark `percentile` ≡ SQL percentile_cont ≡ DuckDB
    quantile_cont (rank-linear interpolation); single-pass per-group sort
    aggregate, one shuffle."""
    s = events_stream(spark, sf_dir)
    return s.groupBy("event_type").agg(
        *[
            F.round(F.percentile(F.col("value"), F.lit(p)), 6).alias(name)
            for p, name in [(0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.95, "p95")]
        ]
    )


@query(
    "distinct_daily_users",
    """
WITH {base}
SELECT date_trunc('day', time) AS day, event_type,
       count(DISTINCT user_id) AS unique_users,
       count(*) AS n_events
FROM base GROUP BY day, event_type
""".format(base=EVENTS_BASE),
)
def distinct_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (SURVEY.md §2.6 — distinct absent in the
    reference). Catalyst plans count(DISTINCT) as a two-stage partial
    dedup + count, so the shuffle carries (day, type, user) pre-deduped
    per map task; at 100 TB swap in approx_count_distinct (HLL) when a
    bounded error is acceptable."""
    s = events_stream(spark, sf_dir)
    return s.groupBy(
        F.date_trunc("day", F.col("time")).alias("day"), "event_type"
    ).agg(
        F.count_distinct(F.col("user_id")).alias("unique_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "running_total",
    """
WITH {base},
cents AS (
  SELECT event_id, user_id, time, CAST(round(value * 100) AS BIGINT) AS v100
  FROM base
)
SELECT event_id, user_id, time,
       round(CAST(sum(v100) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0, 6) AS cum_sum,
       floor(CAST(sum(v100) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
             / count(*) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 + 0.5) / 1000000.0 AS cum_avg,
       count(*) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
FROM cents
""".format(base=EVENTS_BASE, w=W),
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/avg/count per partition (absent in the reference —
    SURVEY.md §2.7 covers only bounded trailing frames), one pass over the
    canonical (partition, time) exchange every other window op shares.

    Fixed-decimal inputs accumulate as scaled integers: a growing float
    frame sums in engine-specific order (DuckDB uses a segment tree), so a
    double cumsum is only reproducible to ~1 ulp — integer cents are exact
    in any order, here and across partial aggregations at 100 TB."""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    v100 = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(*ORDER)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(v100).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    return s.select(
        "event_id",
        "user_id",
        "time",
        F.round(cum / 100.0, 6).alias("cum_sum"),
        # explicit half-up: round() tie-handling differs across engines on
        # exact .5 decimals (BigDecimal-exact vs multiply-then-round); floor
        # of identical doubles is identical everywhere
        (F.floor(cum / 100.0 / n * 1e6 + 0.5) / 1e6).alias("cum_avg"),
        n.alias("cum_n"),
    )


@query(
    "time_weighted_avg",
    """
WITH {base},
seg AS (
  SELECT user_id, date_trunc('day', time) AS day,
         CAST(round(value * 100) AS BIGINT) AS v100,
         lead(epoch_us(time)) OVER ({w}) - epoch_us(time) AS dt_us
  FROM base
)
SELECT user_id, day,
       floor(CAST(sum(v100 * dt_us) AS DOUBLE) / CAST(sum(dt_us) AS DOUBLE) / 100.0 * 1000000 + 0.5) / 1000000.0 AS twa,
       count(*) AS n_segments
FROM seg WHERE dt_us IS NOT NULL AND dt_us > 0
GROUP BY user_id, day
""".format(base=EVENTS_BASE, w=W),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per (user, day) — the irregular-sampling
    aggregate TimescaleDB-style hypertables ship natively; absent from the
    reference, where `rolling mean` weights every tick equally. Each value
    is weighted by its holding interval (time to next observation). One
    window pass for lead(), then a hash aggregate — two shuffles total, both
    on keys that scale with cardinality, not data volume.

    Numerator/denominator accumulate as integers (cents × epoch-microsecond
    intervals), so the aggregation is order-independent and exact across
    engines and shuffle partial merges; floats appear only in the final
    division. (At 100 TB/long horizons move the product to DECIMAL(38,0) —
    int64 holds ~9e18, ample for daily segments at these magnitudes.)"""
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(*ORDER)
    seg = s.select(
        "user_id",
        F.date_trunc("day", F.col("time")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v100"),
        (F.lead(F.unix_micros("time"), 1).over(w) - F.unix_micros("time")).alias("dt_us"),
    )
    return (
        seg.filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
        .groupBy("user_id", "day")
        .agg(
            (
                F.floor(
                    F.sum(F.col("v100") * F.col("dt_us")).cast("double")
                    / F.sum("dt_us").cast("double")
                    / 100.0
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("twa"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


# ------------------------------------------------- TPC-H long tail (adapted)
# The driver schema is trimmed TPC-H (no partsupp, commitdate/receiptdate,
# shipmode, phone, container, comment), so Q8/Q12/Q17/Q21/Q22 are adapted to
# the available columns while preserving the canonical PLAN SHAPE each query
# exists to exercise (that is what matters at 100 TB): Q8 multi-join +
# conditional share, Q12 join + conditional counts, Q13 left-join count
# distribution, Q15 view + scalar-subquery max, Q17 per-group avg as a
# correlated predicate, Q21 exists/not-exists, Q22 scalar subquery + anti
# join. Q2/Q9/Q11/Q16/Q20 need partsupp and are recorded as documented
# deviations in COVERAGE.md.


@query(
    "q8_market_share",
    """
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS v100,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders    ON o_orderkey = l_orderkey
  JOIN customer  ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region    ON r_regionkey = cn.n_regionkey
  JOIN supplier  ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  JOIN part      ON p_partkey = l_partkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       floor(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN v100 ELSE 0 END) AS DOUBLE)
             / CAST(sum(v100) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS mkt_share,
       round(CAST(sum(v100) AS DOUBLE) / 100.0, 2) AS total_volume
FROM vol GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the deepest join tree in the
    suite — fact ⋈ orders (keyed shuffle, AQE picks broadcast at small SF)
    with nation/region/supplier/part all broadcast, then a conditional-share
    aggregate. Volumes accumulate as exact integer cents so the share ratio
    is order-independent; the ratio rounds via the floor(x*1e6+0.5)
    convention shared by both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        # supplier/part are NOT hint-broadcast: they scale with SF (10M+/200M
        # rows at SF1000) — the static planner broadcasts them while under
        # the threshold and AQE upgrades the join at runtime when they fit;
        # only the bounded dims (nation, region) carry explicit hints
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("v100"),
            "supp_nation",
        )
    )
    nation_v = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("v100")).otherwise(F.lit(0))
    )
    return vol.groupBy("o_year").agg(
        (
            F.floor(
                nation_v.cast("double") / F.sum("v100").cast("double") * 1e6 + 0.5
            )
            / 1e6
        ).alias("mkt_share"),
        F.round(F.sum("v100").cast("double") / 100.0, 2).alias("total_volume"),
    )


@query(
    "q12_priority_class",
    """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
""",
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority audit, adapted: the trimmed
    schema has no shipmode/commitdate, so 'late' = shipped 60+ days after
    order). The date range is pushed into the lineitem scan; the lateness
    predicate (row-vs-row column compare) runs as a post-join filter, and
    both priority classes come out of ONE conditional aggregate pass."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q13_order_distribution",
    """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY c_count
""",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join with a
    join-level predicate (pushed to the orders side before the join, never
    applied to preserved customer rows), count per customer, then the
    distribution of counts — two aggregations where the second input is one
    row per customer. count(o_orderkey) over no matches must yield 0 rows
    kept (not null), which the left join + count(col) contract gives on
    both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    per = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS r100
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(r100 AS DOUBLE) / 100.0, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE r100 = (SELECT max(r100) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier via a revenue view + scalar-subquery
    max): the quarterly revenue aggregate is computed ONCE and reused for
    both the max and the final join (Spark reuses the exchange; the scalar
    max comes back as a 1-row broadcast, never a driver collect). Revenue
    is summed in exact integer cents so the max comparison can't be split
    by last-ulp double drift."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime(1996, 4, 1)))
            # explicit, though parquet keys are non-null: the supplier join
            # branch INFERS IsNotNull(l_suppkey) on its scan while the
            # scalar-max branch doesn't, and that one-filter asymmetry makes
            # the two otherwise-identical aggregate subtrees canonically
            # different — AQE then materializes the fact scan+agg TWICE
            # instead of reusing the shuffle stage. Stating the filter on the
            # shared subtree restores ReusedExchange (asserted in
            # test_plan_quality).
            & F.col("l_suppkey").isNotNull()
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("r100")
        )
    )
    mx = rev.agg(F.max("r100").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.r100 == mx.mx)  # scalar: always 1 row
        # supplier scales with SF — no hint; the rev side is 1 row post-max
        # anyway, so either side broadcast is cheap and AQE picks at runtime
        .join(s, rev.supplier_no == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("r100").cast("double") / 100.0, 2).alias("total_revenue"),
        )
    )


@query(
    "q17_small_qty_revenue",
    """
WITH sel AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_type = 'ECONOMY'),
q AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS q100,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
  FROM lineitem JOIN sel ON p_partkey = l_partkey
),
pa AS (SELECT l_partkey, sum(q100) AS sq, count(*) AS n FROM q GROUP BY l_partkey)
SELECT floor(CAST(sum(p100) AS DOUBLE) / 7.0 + 0.5) / 100.0 AS avg_yearly,
       count(*) AS n_lines
FROM q JOIN pa USING (l_partkey)
WHERE 5 * q100 * n < sq
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    'quantity < 0.2 * per-part average' subquery becomes one per-part
    aggregate joined back to the same rows. The selective part filter is
    applied FIRST via a broadcast semi-side join, so the average is only
    computed for the ~matching parts — at 100 TB the per-part aggregate
    reads the filtered fact subset, not the whole table. The 0.2*avg
    comparison is exact integer arithmetic: q < sq/(5n) <=> 5*q*n < sq in
    scaled-cent units, immune to engine-specific double division."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey")
    )
    q = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("q100"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p100"),
    )
    pa = q.groupBy("l_partkey").agg(
        F.sum("q100").alias("sq"), F.count(F.lit(1)).alias("n")
    )
    return (
        q.join(pa, "l_partkey")
        .filter(5 * F.col("q100") * F.col("n") < F.col("sq"))
        .agg(
            (F.floor(F.sum("p100").cast("double") / 7.0 + 0.5) / 100.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q21_late_supplier",
    """
WITH ll AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
),
os AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
  FROM ll GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM ll JOIN os USING (l_orderkey) JOIN supplier ON s_suppkey = l_suppkey
WHERE ll.late = 1 AND os.n_supp >= 2 AND os.n_late_supp = 1
GROUP BY s_name
""",
)
def q21_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept multi-supplier orders waiting;
    'late' adapted to shipped 90+ days after order date — no
    commit/receipt dates in the trimmed schema). The EXISTS / NOT EXISTS
    pair is rewritten as ONE per-order aggregate: a late lineitem
    qualifies iff its order has >=2 distinct suppliers and exactly one
    distinct LATE supplier (necessarily this one). That replaces two
    correlated self-joins of the fact table with an aggregate + join that
    are both keyed on l_orderkey, so the rows are already co-partitioned
    and the whole query costs one fact shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    ll = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("int")
        .alias("late"),
    )
    # two distinct-counts over the same rows would plan as an Expand (2x row
    # duplication + an extra exchange); the two-level aggregate gets both
    # exactly with plain map-side-combinable aggs
    per_supp = ll.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late")
    )
    os_ = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("supp_late").alias("n_late_supp"),
    )
    return (
        ll.join(os_, "l_orderkey")
        .filter(
            (F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        # supplier scales with SF — planner/AQE choice, no forced broadcast
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q22_dormant_customers",
    """
WITH pos AS (
  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s100, count(*) AS n
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey AS cntrycode,
       count(*) AS numcust,
       round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS totacctbal
FROM customer, pos
WHERE CAST(round(c_acctbal * 100) AS BIGINT) * pos.n > pos.s100
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (rich customers gone dormant; country code adapted
    to c_nationkey — no phone column; 'dormant' = no orders since
    2000-01-01, since every synthetic customer has some order): scalar
    subquery (positive-balance average) broadcast as a 1-row stats frame,
    dormancy as a LEFT ANTI join against the date-filtered orders (filter
    pushed to the scan), then a per-country aggregate. The above-average
    comparison is exact integers (bal*n > sum in cents), so a boundary
    customer can't flip between engines."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "b100", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(datetime(2000, 1, 1)))
        .select("o_custkey")
    )
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum("b100").alias("s100"), F.count(F.lit(1)).alias("n")
    )
    return (
        c.join(F.broadcast(stats))
        .filter(F.col("b100") * F.col("n") > F.col("s100"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("b100").cast("double") / 100.0, 2).alias("totacctbal"),
        )
    )


@query(
    "q2_min_cost_supplier",
    """
WITH sel AS (SELECT p_partkey, p_name FROM part WHERE p_type = 'STANDARD' AND p_size <= 15),
offers AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)) AS cost100
  FROM lineitem JOIN sel ON p_partkey = l_partkey
  GROUP BY l_partkey, l_suppkey
),
eligible AS (
  SELECT o.l_partkey AS partkey, o.l_suppkey AS suppkey, o.cost100
  FROM offers o
  JOIN supplier ON s_suppkey = o.l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (SELECT partkey, min(cost100) AS min_cost FROM eligible GROUP BY partkey)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       e.partkey AS p_partkey, sel.p_name,
       round(CAST(e.cost100 AS DOUBLE) / 100.0, 2) AS supply_cost
FROM eligible e
JOIN best b ON e.partkey = b.partkey AND e.cost100 = b.min_cost
JOIN sel ON sel.p_partkey = e.partkey
JOIN supplier ON s_suppkey = e.suppkey
JOIN nation ON n_nationkey = s_nationkey
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (region-scoped minimum-cost supplier per part),
    adapted: the trimmed schema has no partsupp, so the part-supplier
    offer book is derived from lineitem history — a supplier's cost for a
    part is its best observed unit price (min extendedprice/quantity).
    The correlated `= (SELECT min(ps_supplycost) ...)` becomes a groupwise
    -min computed as a WINDOW min over the part key — one exchange on
    partkey, no duplicated offer subtree (an agg-and-rejoin would carry
    the whole offers⋈supplier branch twice and shuffle again on
    (part, cost)). The selective part filter is broadcast into the fact
    scan FIRST and the region filter restricts suppliers via broadcast
    dims. Per-part groups are bounded by the supplier count for a part,
    so the WindowExec buffer is small at any corpus scale. Unit price
    floors at x*100+0.5 (the shared tie convention); min over exact
    integer cents is order-independent at any parallelism."""
    li = load_table(spark, sf_dir, "lineitem")
    sel = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_name")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # bounded dims broadcast; supplier scales with SF → planner/AQE choice
    euro_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )
    offers = (
        li.join(F.broadcast(sel.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5)
            ).alias("cost100")
        )
    )
    from pyspark.sql import Window

    eligible = offers.join(euro_supp, offers.l_suppkey == euro_supp.s_suppkey).select(
        F.col("l_partkey").alias("partkey"),
        "s_name",
        "n_name",
        "s_acctbal",
        "cost100",
    )
    min_cost = F.min("cost100").over(Window.partitionBy("partkey"))
    return (
        eligible.withColumn("min_cost", min_cost)
        .filter(F.col("cost100") == F.col("min_cost"))
        .join(F.broadcast(sel), F.col("partkey") == sel.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("partkey").alias("p_partkey"),
            "p_name",
            F.round(F.col("cost100").cast("double") / 100.0, 2).alias("supply_cost"),
        )
    )


@query(
    "q9_product_profit",
    """
WITH profit AS (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
         - CAST(floor(p_retailprice * l_quantity * 80 + 0.5) AS BIGINT) AS amt100
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%gear%'
)
SELECT nation, o_year, round(CAST(sum(amt100) AS DOUBLE)/100.0, 2) AS sum_profit
FROM profit GROUP BY nation, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-line profit by supplier nation and year),
    adapted: with no partsupp, supply cost is modeled as 80% of the
    part's retail price per unit (revenue and cost both floor to exact
    integer cents BEFORE the subtraction, so the per-line profit — and
    therefore the sum in any accumulation order — is engine-exact). The
    name-substring part filter prunes the fact scan via a broadcast
    semi-side; orders joins on the fact's own key; nation is broadcast.
    One wide join tree, one aggregate, no Expand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    rev = F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
    cost = F.floor(F.col("p_retailprice") * F.col("l_quantity") * 80 + 0.5)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            (rev - cost).alias("amt100"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amt100").cast("double") / 100.0, 2).alias("sum_profit"))
    )


@query(
    "q11_part_value",
    """
WITH v AS (
  SELECT l_partkey, CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS v100
  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
),
pv AS (SELECT l_partkey AS p_partkey, sum(v100) AS part_v100 FROM v GROUP BY l_partkey),
tot AS (SELECT sum(part_v100) AS total_v100, count(*) AS n_parts FROM pv)
SELECT p_partkey, round(CAST(part_v100 AS DOUBLE)/100.0, 2) AS part_value
FROM pv, tot WHERE 2 * part_v100 * n_parts > 3 * total_v100
""",
)
def q11_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (parts holding an outsized share of one nation's
    traded value; partsupp stock value adapted to lineitem traded value).
    The HAVING-vs-global-scalar becomes: per-part integer-cent sums
    (one keyed shuffle), a 1-row grand total that Spark reuses from the
    SAME shuffle output (exchange reuse, not a second fact scan),
    broadcast back for the threshold. TPC-H's fixed fraction must shrink
    with SF or the result degenerates to empty as the part count grows, so
    the threshold is relative: parts above 1.5x the average part value —
    `2 * part_v * n_parts > 3 * total_v` keeps it in exact integer
    arithmetic, so a boundary part cannot flip between engines the way
    `> 1.5 * total/n` could."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    v = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "l_partkey",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
            ).alias("v100"),
        )
    )
    pv = v.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum("v100").alias("part_v100")
    )
    tot = pv.agg(  # reuses pv's exchange (asserted in test_plan_quality)
        F.sum("part_v100").alias("total_v100"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pv.join(F.broadcast(tot))
        .filter(2 * F.col("part_v100") * F.col("n_parts") > 3 * F.col("total_v100"))
        .select(
            "p_partkey",
            F.round(F.col("part_v100").cast("double") / 100.0, 2).alias("part_value"),
        )
    )


@query(
    "q16_parts_supplier_count",
    """
WITH pairs AS (
  SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
    AND p_size IN (1, 5, 11, 15, 23, 28, 37, 42)
    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p_brand, p_type, p_size, count(*) AS supplier_cnt
FROM pairs GROUP BY p_brand, p_type, p_size
""",
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (how many suppliers can provide each part class;
    partsupp adapted to observed lineitem part-supplier pairs, the
    complaint-supplier NOT IN adapted to negative account balance). The
    count(DISTINCT l_suppkey) is a two-level aggregate — distinct pairs
    first, then a plain count — rather than a distinct-agg Expand; the
    NOT IN is a broadcast LEFT ANTI join (the excluded set is tiny and,
    being non-null keys, anti-join and NOT IN agree)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 11, 15, 23, 28, 37, 42)
    )
    excl = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        li.join(F.broadcast(excl), li.l_suppkey == excl.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return pairs.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


@query(
    "q20_dominant_suppliers",
    """
WITH sel AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
sq AS (
  SELECT l_partkey, l_suppkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q100
  FROM lineitem JOIN sel ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
),
pq AS (SELECT l_partkey, sum(q100) AS pt100 FROM sq GROUP BY l_partkey)
SELECT DISTINCT s_suppkey, s_name, n_name
FROM sq JOIN pq USING (l_partkey)
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE 2 * q100 > pt100 AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
""",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers positioned to promote a part line;
    `ps_availqty > 0.5 * sum(l_quantity)` adapted to: the supplier shipped
    more than half of a small-part's total 1997 volume). The nested
    correlated IN chain flattens to a per-(part,supplier) aggregate plus
    a WINDOW sum over the part key (one exchange; an agg-and-rejoin would
    duplicate the aggregate subtree and shuffle twice) — an integer-exact
    majority test (2*supp > total), then supplier/nation lookups on the
    few survivors. Per-part window groups are bounded by suppliers-per-
    part. The distinct output collapses multi-part dominators."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1997, 1, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1998, 1, 1)))
    )
    sel = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
    )
    from pyspark.sql import Window

    sq = (
        li.join(F.broadcast(sel), li.l_partkey == sel.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q100"))
    )
    pt100 = F.sum("q100").over(Window.partitionBy("l_partkey"))
    return (
        sq.withColumn("pt100", pt100)
        .filter(2 * F.col("q100") > F.col("pt100"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


@query(
    "interval_join_events",
    """
WITH {base},
iv AS (
  SELECT event_id AS incident_id, user_id,
         time - INTERVAL 30 MINUTE AS win_start,
         time + INTERVAL 30 MINUTE AS win_end
  FROM base WHERE event_type = 'error'
)
SELECT f.event_id, f.user_id, f.time, f.event_type,
       iv.incident_id, iv.win_start, iv.win_end
FROM base f JOIN iv
  ON f.user_id = iv.user_id
 AND f.time >= iv.win_start AND f.time < iv.win_end
WHERE f.event_type <> 'error'
""".format(base=EVENTS_BASE),
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch interval (range) join — SURVEY.md §2.5 beyond-reference row,
    operators/interval.py: activity during incident windows (±30 min around
    each error event, half-open). The naive non-equi join degenerates to
    per-key cross products when a key has many windows; the operator
    decomposes it into one-bucket facts x exploded-bucket intervals, an
    EQUI-join Catalyst can hash/broadcast, and an exact residual range
    filter. One row per containing window, timestamps bit-identical (moved,
    never computed)."""
    from datapipeline_spark.operators.interval import interval_join

    s = events_stream(spark, sf_dir)
    iv = s.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        "user_id",
        (F.col("time") - F.expr("INTERVAL 30 MINUTES")).alias("win_start"),
        (F.col("time") + F.expr("INTERVAL 30 MINUTES")).alias("win_end"),
    )
    facts = s.filter(F.col("event_type") != "error").select(
        "event_id", "user_id", "time", "event_type"
    )
    return interval_join(
        facts, iv, on=["user_id"],
        time_col="time", start_col="win_start", end_col="win_end", bucket="30m",
    )


@query(
    "robust_scale",
    """
WITH {base},
st AS (
  SELECT event_type,
         quantile_cont(value, 0.50) AS med,
         quantile_cont(value, 0.25) AS p25,
         quantile_cont(value, 0.75) AS p75
  FROM base GROUP BY event_type
)
SELECT event_id, b.event_type, value,
       round((value - med) / (p75 - p25), 6) AS robust
FROM base b JOIN st ON b.event_type = st.event_type
""".format(base=EVENTS_BASE),
)
def robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust standardization — the outlier-resistant companion
    to the Welford z-score scaler (dataset/scaler.py): per-group exact
    interpolated quantiles (one sort-aggregate pass, same engine-parity
    contract as percentile_stats), broadcast back onto the stream as a pure
    map. Fact rows are never sorted globally; the only shuffle is the tiny
    per-type aggregate."""
    s = events_stream(spark, sf_dir)
    st = s.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.50)).alias("med"),
        F.percentile(F.col("value"), F.lit(0.25)).alias("p25"),
        F.percentile(F.col("value"), F.lit(0.75)).alias("p75"),
    )
    return (
        s.join(F.broadcast(st), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(
                (F.col("value") - F.col("med")) / (F.col("p75") - F.col("p25")), 6
            ).alias("robust"),
        )
    )


@query(
    "multi_res_rollup",
    """
WITH {base},
m AS (
  SELECT date_trunc('minute', time) AS bucket, event_type,
         count(*) AS n_events,
         sum(CAST(round(value * 100) AS BIGINT)) AS v100
  FROM base GROUP BY 1, 2
),
h AS (
  SELECT date_trunc('hour', bucket) AS bucket, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(v100) AS v100
  FROM m GROUP BY 1, 2
),
d AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(v100) AS v100
  FROM h GROUP BY 1, 2
)
SELECT resolution, bucket, event_type, n_events,
       round(CAST(v100 AS DOUBLE) / 100.0, 2) AS sum_value
FROM (
  SELECT 'minute' AS resolution, * FROM m
  UNION ALL SELECT 'hour', * FROM h
  UNION ALL SELECT 'day', * FROM d
)
""".format(base=EVENTS_BASE),
)
def multi_res_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (TimescaleDB continuous
    aggregates; absent from the reference): minute → hour → day in ONE lazy
    plan where each coarser level re-aggregates the level below it, never
    the raw stream — at execution AQE's exchange reuse feeds the hour and
    day branches from the minute aggregate's shuffle output (>=2
    ReusedExchange in the final plan, asserted in test_plan_quality), so
    the raw data is scanned once and the coarser aggregates run over
    inputs already 1/60 (1/1440) the size.
    Counts and cent-sums are integers, so the cascade is exactly associative
    at every level. At 100 TB this is the materialized-rollup pattern:
    persist the minute level, derive the rest."""
    s = events_stream(spark, sf_dir)
    m = s.groupBy(
        F.date_trunc("minute", F.col("time")).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("v100"),
    )
    h = m.groupBy(
        F.date_trunc("hour", F.col("bucket")).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("v100").alias("v100"))
    d = h.groupBy(
        F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("v100").alias("v100"))
    out = (
        m.select(F.lit("minute").alias("resolution"), "bucket", "event_type", "n_events", "v100")
        .unionByName(h.select(F.lit("hour").alias("resolution"), "bucket", "event_type", "n_events", "v100"))
        .unionByName(d.select(F.lit("day").alias("resolution"), "bucket", "event_type", "n_events", "v100"))
    )
    return out.select(
        "resolution",
        "bucket",
        "event_type",
        "n_events",
        F.round(F.col("v100").cast("double") / 100.0, 2).alias("sum_value"),
    )


_CM_H = "(('0x' || substr(sha256('cm' || {j}::VARCHAR || '|' || {key}::VARCHAR), 1, 13))::UBIGINT)::BIGINT"


@query(
    "cm_user_counts",
    """
WITH {base},
js AS (SELECT unnest([0, 1, 2, 3]) AS j),
cells AS (
  SELECT j, CAST({h_base} % 256 AS INT) AS bucket, count(*) AS c
  FROM base, js GROUP BY 1, 2
),
keys AS (SELECT DISTINCT user_id FROM base),
est AS (
  SELECT user_id, min(coalesce(c, 0)) AS est
  FROM (SELECT k.user_id, js.j,
               CAST({h_key} % 256 AS INT) AS bucket
        FROM keys k, js) q
  LEFT JOIN cells USING (j, bucket)
  GROUP BY user_id
),
exact AS (SELECT user_id, count(*) AS n FROM base GROUP BY user_id)
SELECT e.user_id,
       CAST(est AS BIGINT) AS est_count,
       n AS exact_count,
       CAST(est - n AS BIGINT) AS overcount
FROM est e JOIN exact USING (user_id)
""".format(
        base=EVENTS_BASE,
        h_base=_CM_H.format(j="j", key="user_id"),
        h_key=_CM_H.format(j="js.j", key="k.user_id"),
    ),
)
def cm_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (sketch/cm.py — the reference
    has no sketches; this is the 'novel sketch' row of the beyond-reference
    inventory): build a 4x256 sketch of per-user event frequencies in one
    map-side-combined aggregation whose shuffle is bounded by the sketch
    size (not the stream), then point-query every user via a broadcast
    join + min. Deterministic seeded-sha hashing makes the estimates
    exactly reproducible cross-engine, so even the OVERCOUNTS hash-match
    the oracle; est >= exact always (test asserts it)."""
    from datapipeline_spark.sketch import build_cm_sketch, cm_estimate

    s = events_stream(spark, sf_dir)
    sketch = build_cm_sketch(s, "user_id", depth=4, width=256)
    keys = s.select("user_id").distinct()
    est = cm_estimate(sketch, keys, "user_id", depth=4, width=256, out="est_count")
    exact = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).alias("overcount"),
    )


@query(
    "cdc_apply_changes",
    """
WITH {base},
snap AS (
  SELECT user_id, time, event_id, value, 'U' AS op FROM (
    SELECT user_id, time, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY time DESC, event_id DESC) AS rn
    FROM base WHERE time < TIMESTAMP '2024-01-16 00:00:00'
  ) WHERE rn = 1
),
chg AS (
  SELECT user_id, time, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM base WHERE time >= TIMESTAMP '2024-01-16 00:00:00'
),
merged AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY time DESC, event_id DESC) AS rn
    FROM (SELECT * FROM snap UNION ALL SELECT * FROM chg)
  ) WHERE rn = 1
)
SELECT user_id, time, event_id, value FROM merged WHERE op <> 'D'
""".format(base=EVENTS_BASE),
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (operators/cdc.py — Delta/Iceberg MERGE INTO semantics,
    absent from the reference's rebuild-from-scratch artifact model): the
    per-user state as of Jan 16 is the snapshot; later events are the
    changelog (errors = deletes, everything else = upserts). Latest-change-
    per-key wins via WindowGroupLimit (one candidate row per key per map
    task crosses the wire); users whose final change is a delete drop out.
    One shuffle, keyed on the merge key."""
    from datapipeline_spark.operators.cdc import apply_changes
    from pyspark.sql import Window

    cutoff = datetime(2024, 1, 16)
    s = events_stream(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("time").desc(), F.col("event_id").desc()
    )
    snap = (
        s.filter(F.col("time") < F.lit(cutoff))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("user_id", "time", "event_id", "value")
    )
    chg = s.filter(F.col("time") >= F.lit(cutoff)).select(
        "user_id",
        "time",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_changes(snap, chg, keys=["user_id"], seq=["time", "event_id"])


def _approx_distinct_sql(p: int = 10) -> str:
    """Oracle for approx_distinct_users: the deterministic-HLL register
    computation replayed in ANSI SQL (the _hll_sql pattern from
    queries_data.py), per event_type over the deduped (type, user) pairs,
    joined with the exact count."""
    from datapipeline_spark.sketch.hll import alpha_numerator

    m = 1 << p
    rem_bits = 60 - p
    mask = (1 << rem_bits) - 1
    rho_max = rem_bits + 1
    num = repr(alpha_numerator(p))
    return f"""
WITH per AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::UBIGINT)::BIGINT AS h
  FROM per
),
r AS (
  SELECT event_type, h >> {rem_bits} AS reg,
         max(CASE WHEN (h & {mask}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h & {mask})) END) AS rho
  FROM h GROUP BY event_type, reg
),
s AS (
  SELECT event_type, count(*)::BIGINT AS n_registers,
         (sum(1::BIGINT << ({rho_max} - rho))
          + ({m} - count(*)) * (1::BIGINT << {rho_max}))::BIGINT
           AS scaled_harmonic
  FROM r GROUP BY event_type
),
e AS (SELECT event_type, count(*)::BIGINT AS exact_users FROM per GROUP BY 1)
SELECT s.event_type,
       CAST(floor({num} / scaled_harmonic::DOUBLE) AS BIGINT) AS approx_users_raw,
       n_registers, scaled_harmonic, exact_users
FROM s JOIN e ON s.event_type = e.event_type
"""


@query("approx_distinct_users", _approx_distinct_sql())
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (SURVEY.md §2.6 approx-distinct row):
    per-type unique users estimated by the deterministic HyperLogLog
    sketch (sketch/hll.py) alongside the exact count and the relative
    error. At 100 TB this is THE swap for distinct_daily_users: HLL state
    is at most m=1024 register rows per group (vs the exact path's shuffle
    of every distinct (group, user) pair), merges associatively map-side,
    and composes with rollups. The engine-native approx_count_distinct
    (HLL++) computes the same quantity cheaper but its sketch state is
    engine-opaque; the md5-register sketch is bit-replayable in ANSI SQL,
    which is what promoted this query from rows-only to an exact value
    oracle (round 6). The RAW (uncorrected) estimate plus the full register
    summary (n_registers, scaled_harmonic) are emitted — the ln-based
    small-range correction is not bit-stable cross-engine, so it stays
    driver-side (sketch/hll.corrected_estimate; tests/test_sketch.py
    asserts the corrected estimate's error bound from these columns)."""
    from datapipeline_spark.sketch.hll import hll_estimate, hll_registers

    s = events_stream(spark, sf_dir)
    # dedup (type, user) pairs first: the exact count becomes a plain
    # count(*) and the sketch sees the same distinct set; one lazy
    # checkpoint since the deduped pairs feed both the register aggregate
    # and the exact count
    per = s.select("event_type", "user_id").distinct().localCheckpoint(
        eager=False
    )
    est = hll_estimate(
        hll_registers(per, "user_id", groups=["event_type"]),
        groups=["event_type"],
    )
    exact = per.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_users")
    )
    # explicit floor: DuckDB's double->BIGINT cast rounds half-even while
    # Spark's truncates — at sf0.1 the estimate landed at 1714.99…, one
    # engine said 1714 and the other 1715
    return est.join(exact, "event_type").select(
        "event_type",
        F.floor(F.col("est_raw")).cast("long").alias("approx_users_raw"),
        "n_registers",
        "scaled_harmonic",
        "exact_users",
    )


@query(
    "zorder_layout",
    """
WITH {base}
SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS vbucket,
       (((((((((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) | (((((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) << 2)) & 3689348814741910323) | (((((((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) | (((((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) | (((CAST(user_id AS BIGINT) | (CAST(user_id AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) << 2)) & 3689348814741910323) << 1)) & 6148914691236517205) | (((((((((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) | (((((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) << 2)) & 3689348814741910323) | (((((((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) | (((((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) | (((((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) | (((CAST(CAST(floor(value) AS BIGINT) AS BIGINT) | (CAST(CAST(floor(value) AS BIGINT) AS BIGINT) << 16)) & 281470681808895) << 8)) & 71777214294589695) << 4)) & 1085102592571150095) << 2)) & 3689348814741910323) << 1)) & 6148914691236517205) << 1)) AS zkey
FROM base
""".format(base=EVENTS_BASE),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys (functions/zorder.py): interleave
    user_id and the quantized value so that sorting files by zkey keeps
    BOTH columns locally clustered — parquet row-group min/max stats then
    prune on either predicate (the Delta OPTIMIZE ZORDER idea, applied at
    write time via sortWithinPartitions(zkey); no read-path change). Pure
    64-bit integer bit arithmetic, bit-identical across engines — the
    oracle runs the same formula rendered to SQL. The locality win is
    measured in tests/test_zorder.py."""
    from datapipeline_spark.functions.zorder import zorder_key

    s = events_stream(spark, sf_dir)
    vb = F.floor(F.col("value")).cast("long")
    return s.select(
        "event_id",
        "user_id",
        vb.alias("vbucket"),
        zorder_key(F.col("user_id"), vb).alias("zkey"),
    )


@query(
    "ewma_value",
    """
WITH {base},
fr AS (
  SELECT event_id, user_id, time, value,
         list(value) OVER ({w} ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS a
  FROM base
)
SELECT event_id, user_id, time, value,
       round(
         list_reduce(list_transform(a, (x, i) -> x * pow(0.5, len(a) - i)), (p, q) -> p + q)
         / list_reduce(list_transform(a, (x, i) -> pow(0.5, len(a) - i)), (p, q) -> p + q),
       6) AS ewma
FROM fr
""".format(base=EVENTS_BASE, w=W),
)
def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (operators/window.py ewma —
    beyond-reference: the reference's rolling stats weight every tick
    equally). 8-row trailing frame, decay 0.5: every weight is an exact
    power of two, so the weighted fold is bit-identical across engines and
    the oracle hash-matches without tolerance. Shares the canonical
    (user, time, event_id) exchange with every other window op."""
    from datapipeline_spark.operators.window import ewma

    s = events_stream(spark, sf_dir).select("event_id", "user_id", "time", "value")
    out = ewma(
        s, "value", window=8, decay=0.5,
        partition_by=["user_id"], order_by=["time", "event_id"],
    )
    return out.withColumn("ewma", F.round(F.col("ewma"), 6))


@query(
    "cohort_retention_grid",
    """
WITH {base},
seen AS (
  SELECT DISTINCT user_id, date_trunc('week', time) AS wk FROM base
),
first AS (SELECT user_id, min(wk) AS cohort FROM seen GROUP BY user_id)
SELECT f.cohort,
       CAST((epoch_us(s.wk) - epoch_us(f.cohort)) // (604800 * CAST(1000000 AS BIGINT)) AS BIGINT)
         AS week_offset,
       count(*) AS n_users
FROM seen s JOIN first f USING (user_id)
GROUP BY 1, 2
""".format(base=EVENTS_BASE),
)
def cohort_retention_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cohort-retention triangle (generalizes weekly_retention's
    week-2-only check): users grouped by first-seen week, counted in every
    subsequent week they return — THE product-analytics dashboard query.
    One dedup to (user, week), one min-aggregate for cohorts, a join that
    re-uses the user_id partitioning, and a tiny grid aggregate; the
    week offset is exact epoch-microsecond integer arithmetic so the grid
    cells hash-match across engines."""
    s = events_stream(spark, sf_dir)
    seen = s.select(
        "user_id", F.date_trunc("week", F.col("time")).alias("wk")
    ).distinct()
    first = seen.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    off = (
        (F.unix_micros("wk") - F.unix_micros("cohort"))
        / F.lit(7 * 86400 * 1000000)
    ).cast("long")
    return (
        seen.join(first, "user_id")
        .groupBy("cohort", off.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "salted_join_enrich",
    """
WITH {base},
prof AS (
  SELECT user_id, min(time) AS first_seen, count(*) AS n_events
  FROM base GROUP BY user_id
)
SELECT b.event_id, b.user_id, b.time, b.value,
       prof.first_seen, prof.n_events
FROM base b JOIN prof USING (user_id)
""".format(base=EVENTS_BASE),
)
def salted_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join in the registry (operators/skew.py salted_join — the
    explicit fallback for join skew AQE's runtime splitting doesn't
    rewrite, measured 2x on a 90%-hot-key workload by the skew experiment
    in git history, commit 8c72449): the skewed fact side keeps its layout
    while the small profile side explodes salt x, spreading each hot key over
    salt shuffle partitions. Results are identical to the plain join (the
    oracle) by construction — the salt only changes WHERE rows meet."""
    from datapipeline_spark.operators.skew import salted_join

    s = events_stream(spark, sf_dir)
    prof = s.groupBy("user_id").agg(
        F.min("time").alias("first_seen"), F.count(F.lit(1)).alias("n_events")
    )
    out = salted_join(
        s.select("event_id", "user_id", "time", "value"), prof, ["user_id"], salt=8
    )
    return out.select(
        "event_id", "user_id", "time", "value", "first_seen", "n_events"
    )


@query(
    "scd2_user_segments",
    """
WITH {base},
seg AS (SELECT user_id, time, event_id, CAST(floor(value / 25) AS BIGINT) AS segment FROM base),
marked AS (
  SELECT user_id, time, event_id, segment,
         CASE WHEN lag(segment) OVER ({w}) IS DISTINCT FROM segment THEN 1 ELSE 0 END AS chg
  FROM seg
),
runs AS (
  SELECT *, CAST(sum(chg) OVER ({w} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM marked
),
hist AS (
  SELECT user_id, run_id, min(segment) AS segment, min(time) AS valid_from,
         count(*) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, segment, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current,
       n_events
FROM hist
""".format(base=EVENTS_BASE, w=W),
)
def scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history (lakehouse-standard; beyond the
    reference's rebuild-only artifact model, companion to
    operators/cdc.py): each user's value-segment changes become validity
    intervals — gaps-and-islands via lag-compare + running change count,
    one run-level aggregate, then valid_to = next run's valid_from (lead;
    null ⇒ current row flag). Everything rides the canonical
    (user, time, event_id) window exchange: ONE shuffle for lag + running
    sum + the run aggregate + the interval lead. Timestamps are moved,
    never computed, so intervals hash-match bit-exactly across engines."""
    from datapipeline_spark.operators.scd import scd2_history

    s = events_stream(spark, sf_dir)
    seg = s.select(
        "user_id",
        "time",
        "event_id",
        F.floor(F.col("value") / 25).alias("segment"),
    )
    return scd2_history(
        seg, keys=["user_id"], attr="segment", order_cols=list(ORDER)
    )


@query(
    "pagerank_parts",
    """
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
it1 AS (
  SELECT e.dst AS node, 150000 + (85 * sum(r.rank // d.outdeg)) // 100 AS rank
  FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
it2 AS (
  SELECT e.dst AS node, 150000 + (85 * sum(r.rank // d.outdeg)) // 100 AS rank
  FROM edges e JOIN it1 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
it3 AS (
  SELECT e.dst AS node, 150000 + (85 * sum(r.rank // d.outdeg)) // 100 AS rank
  FROM edges e JOIN it2 r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)
SELECT node AS p_partkey, CAST(rank AS BIGINT) AS rank_micros FROM it3
""",
)
def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the part co-purchase graph (iterative
    graph algorithm — a class the reference's linear pipeline model cannot
    express at all). Edges = distinct part pairs sharing an order (the
    self-join is keyed on l_orderkey and bounded by lines-per-order, so it
    cannot degenerate at corpus scale); 3 damped iterations entirely in
    integer micro-units — rank DIV outdeg per edge, exact bigint sums,
    (85*s) DIV 100 damping — so every iteration is order-independent and
    the final ranks hash-match DuckDB's unrolled-CTE oracle exactly. Each
    iteration joins ranks to the node-count-sized adjacency (pagerank's
    collect_set dedups the pair stream, so the distinct exchange is
    skipped entirely — cooccurrence_pairs, not cooccurrence_edges) and
    aggregates per destination; the static adjacency is eagerly
    materialized once inside `pagerank` (localCheckpoint), so iteration
    count can grow without ever re-deriving the co-occurrence pair
    stream — structural, not a bet on AQE exchange-reuse
    canonicalization."""
    from datapipeline_spark.operators.graph import cooccurrence_pairs, pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = cooccurrence_pairs(li, group_col="l_orderkey", item_col="l_partkey")
    ranks = pagerank(edges, iterations=3)
    return ranks.select(
        F.col("node").alias("p_partkey"), F.col("rank").cast("long").alias("rank_micros")
    )


@query(
    "scd2_point_in_time",
    """
WITH {base},
seg AS (SELECT user_id, time, event_id, CAST(floor(value / 25) AS BIGINT) AS segment FROM base),
marked AS (
  SELECT user_id, time, event_id, segment,
         CASE WHEN lag(segment) OVER ({w}) IS DISTINCT FROM segment THEN 1 ELSE 0 END AS chg
  FROM seg
),
runs AS (
  SELECT *, CAST(sum(chg) OVER ({w} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
  FROM marked
),
hist AS (
  SELECT user_id, run_id, min(segment) AS segment, min(time) AS valid_from
  FROM runs GROUP BY user_id, run_id
),
dim AS (
  SELECT user_id, segment, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to
  FROM hist
),
errs AS (SELECT event_id, user_id, time FROM base WHERE event_type = 'error')
SELECT e.event_id, e.user_id, e.time, d.segment AS segment_at_event
FROM errs e JOIN dim d
  ON e.user_id = d.user_id
 AND e.time >= d.valid_from AND (d.valid_to IS NULL OR e.time < d.valid_to)
""".format(base=EVENTS_BASE, w=W),
)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history — the
    feature-store temporal-correctness join (each fact sees the dimension
    version that was valid AT ITS OWN event time, never a later one).
    The oracle is the literal interval-containment range join; the engine
    side exploits that SCD2 intervals are non-overlapping and contiguous
    per key, so containment == backward as-of against the interval
    STARTS: one union + one (user, time) shuffle + forward-fill
    (operators/asof.py), zero interval explosion and no range-join
    cross-product risk at any history length."""
    from datapipeline_spark.operators.asof import asof_join
    from datapipeline_spark.operators.scd import scd2_history

    s = events_stream(spark, sf_dir)
    seg = s.select(
        "user_id", "time", "event_id", F.floor(F.col("value") / 25).alias("segment")
    )
    dim = scd2_history(seg, ["user_id"], "segment", order_cols=list(ORDER)).select(
        "user_id", F.col("valid_from").alias("time"), "segment"
    )
    errs = s.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "time"
    )
    out = asof_join(errs, dim, ["user_id"], right_fields=["segment"])
    return out.select(
        "event_id", "user_id", "time", F.col("segment_asof").alias("segment_at_event")
    )


@query(
    "snapshot_diff",
    """
WITH {base},
snap_a AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id, event_type ORDER BY time DESC, event_id DESC) AS rn
    FROM base WHERE time >= TIMESTAMP '2024-01-08 00:00:00' AND time < TIMESTAMP '2024-01-16 00:00:00'
  ) WHERE rn = 1),
snap_b AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id, event_type ORDER BY time DESC, event_id DESC) AS rn
    FROM base WHERE time >= TIMESTAMP '2024-01-16 00:00:00' AND time < TIMESTAMP '2024-01-24 00:00:00'
  ) WHERE rn = 1)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       coalesce(a.event_type, b.event_type) AS event_type,
       CASE WHEN a.user_id IS NULL THEN 'insert'
            WHEN b.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS op,
       a.value AS old_value, b.value AS new_value
FROM snap_a a FULL OUTER JOIN snap_b b
  ON a.user_id = b.user_id AND a.event_type = b.event_type
WHERE a.user_id IS NULL OR b.user_id IS NULL OR a.value IS DISTINCT FROM b.value
""".format(base=EVENTS_BASE),
)
def snapshot_diff_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two keyed snapshots (operators/cdc.py
    snapshot_diff — Delta CDF's table_changes shape): per (user, type)
    latest-state in week A vs week B, emitting insert/delete/update rows
    with old/new values. Latest-per-key is WindowGroupLimit (one candidate
    row per key crosses the wire per map task); the diff itself is ONE
    full-outer join with both sides shuffled on the same key, unchanged
    keys dropped in the joined projection before anything downstream."""
    from datapipeline_spark.operators.cdc import snapshot_diff
    from pyspark.sql import Window

    s = events_stream(spark, sf_dir)

    def snap(lo: datetime, hi: datetime) -> DataFrame:
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("time").desc(), F.col("event_id").desc()
        )
        return (
            s.filter((F.col("time") >= F.lit(lo)) & (F.col("time") < F.lit(hi)))
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select("user_id", "event_type", "value")
        )

    a = snap(datetime(2024, 1, 8), datetime(2024, 1, 16))
    b = snap(datetime(2024, 1, 16), datetime(2024, 1, 24))
    out = snapshot_diff(a, b, keys=["user_id", "event_type"], compare=["value"])
    return out.select(
        "user_id",
        "event_type",
        "op",
        F.col("old_value").alias("old_value"),
        F.col("new_value").alias("new_value"),
    )


@query(
    "dq_expectations",
    """
WITH {base},
agg AS (
  SELECT count(*) AS n_rows,
         CAST(sum(CASE WHEN (value IS NOT NULL) THEN 0 ELSE 1 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN (value >= 0) THEN 0 ELSE 1 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN (event_type IN ('click','view','purchase','error')) THEN 0 ELSE 1 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN (value_n IS NOT NULL) THEN 0 ELSE 1 END) AS BIGINT) AS v3
  FROM base
)
SELECT rule, action, n_rows, n_violations,
       CAST((n_violations * 1000000) // greatest(n_rows, 1) AS BIGINT) AS violation_ppm
FROM (
  SELECT n_rows, 'value_present' AS rule, 'fail' AS action, v0 AS n_violations FROM agg
  UNION ALL SELECT n_rows, 'value_non_negative', 'drop', v1 FROM agg
  UNION ALL SELECT n_rows, 'known_event_type', 'fail', v2 FROM agg
  UNION ALL SELECT n_rows, 'value_n_present', 'warn', v3 FROM agg
)
""".format(base=EVENTS_BASE),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (operators/expect.py — the
    DLT expect/expect_or_drop/expect_or_fail shape, generalizing the
    reference's hard-coded fail-fast contracts into user rules). The
    report is ONE aggregate pass regardless of rule count: each rule is a
    conditional sum inside the same map-side-combinable aggregate, then a
    typed-literal unpivot of the single result row (NULL expr = violation,
    matching enforcement). The violation ratio is
    exact integer ppm (violations * 1e6 DIV rows), so the report
    hash-matches at any parallelism."""
    from datapipeline_spark.operators.expect import Expectation, expectation_report

    s = events_stream(spark, sf_dir)
    rules = [
        Expectation("value_present", "value IS NOT NULL", "fail"),
        Expectation("value_non_negative", "value >= 0", "drop"),
        Expectation(
            "known_event_type",
            "event_type IN ('click','view','purchase','error')",
            "fail",
        ),
        Expectation("value_n_present", "value_n IS NOT NULL", "warn"),
    ]
    return expectation_report(s, rules)


@query(
    "grouping_sets_revenue",
    """
SELECT n_name, o_orderpriority,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)/100.0, 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), ())
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (completes the grouping-set family next to
    rollup_revenue/cube_revenue — arbitrary set lists, not just the
    rollup/cube lattices; reference gap, native in Spark 4's
    DataFrame.groupingSets). Revenue accumulates as exact integer cents;
    all three set levels come out of ONE Expand inside a single
    aggregation exchange, dims broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("p100"),
        )
    )
    return (
        j.groupingSets(
            [["n_name", "o_orderpriority"], ["n_name"], []],
            "n_name",
            "o_orderpriority",
        )
        .agg(
            F.round(F.sum("p100").cast("double") / 100.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "robust_anomaly",
    """
WITH {base},
st AS (
  SELECT event_id, user_id, value,
         quantile_cont(value, 0.5) OVER w24 AS med,
         quantile_cont(value, 0.75) OVER w24 - quantile_cont(value, 0.25) OVER w24 AS iqr,
         count(value) OVER w24 AS n
  FROM base
  WINDOW w24 AS ({w} ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CASE WHEN n >= 12 AND iqr > 0 THEN floor((value - med) / iqr * 1000000 + 0.5) / 1000000 END AS robust_score,
       CASE WHEN n >= 12 AND iqr > 0 THEN abs(value - med) > 1.5 * iqr END AS is_anomaly
FROM st
""".format(base=EVENTS_BASE, w=W),
)
def robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust online anomaly detection: each value scored against its own
    trailing-24 median and IQR (outlier-immune, unlike rolling_zscore's
    mean/std — one wild value cannot poison its own detection threshold).
    Exact frame-capable percentiles (the same F.percentile path as
    rolling_median), min_samples gate at half the window, zero-IQR
    windows emit null rather than dividing. Shares the canonical
    (user, time, event_id) exchange, and all three quartiles come from
    ONE frame evaluation — `percentile(value, array(.25, .5, .75))`
    sorts each frame once instead of three times (measured 2.6 s →
    0.58 s at sf0.1)."""
    s = events_stream(spark, sf_dir)
    w = canonical_window(["user_id"], ORDER).rowsBetween(-23, 0)
    qs = F.expr("percentile(value, array(0.25, 0.5, 0.75))").over(w)
    n = F.count("value").over(w)
    base = s.withColumn("__q__", qs).withColumn("__n__", n)
    med = F.col("__q__")[1]
    iqr = F.col("__q__")[2] - F.col("__q__")[0]
    gate = (F.col("__n__") >= 12) & (iqr > 0)
    score = F.floor((F.col("value") - med) / iqr * 1e6 + 0.5) / 1e6
    return base.select(
        "event_id",
        "user_id",
        F.when(gate, score).alias("robust_score"),
        F.when(gate, F.abs(F.col("value") - med) > 1.5 * iqr).alias("is_anomaly"),
    )


@query(
    "touch_attribution",
    """
WITH {base},
t AS (SELECT event_id, user_id, time, event_type, epoch_us(time) AS tmicros FROM base),
touches AS (
  SELECT user_id, tmicros, max(event_id) AS touch_id
  FROM t WHERE event_type IN ('click', 'view')
  GROUP BY user_id, tmicros
),
u AS (
  SELECT event_id, user_id, time, tmicros, NULL AS touch_id, 0 AS is_touch
  FROM t WHERE event_type = 'purchase'
  UNION ALL
  SELECT NULL, user_id, NULL, tmicros, touch_id, 1 FROM touches
),
att AS (
  SELECT *,
         max_by(touch_id, CASE WHEN is_touch = 1 THEN tmicros END) OVER w AS last_touch_id,
         min_by(touch_id, CASE WHEN is_touch = 1 THEN tmicros END) OVER w AS first_touch_id,
         CAST(coalesce(sum(is_touch) OVER w, 0) AS BIGINT) AS n_touches_1h
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY tmicros
               RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, time, last_touch_id, first_touch_id, n_touches_1h
FROM att WHERE is_touch = 0
""".format(base=EVENTS_BASE),
)
def touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution: every purchase credited to the
    earliest and latest click/view in its trailing one-hour window (the
    marketing-attribution companion to funnel_conversion). Touches and
    purchases UNION into one stream so the event-time RANGE frame
    (micros, current row excluded) resolves both endpoints and the touch
    count in ONE (user, time) exchange — no self-join, no per-purchase
    subquery. Exact-micro touch collisions collapse to max event_id
    first, so min_by/max_by never break ties nondeterministically."""
    s = events_stream(spark, sf_dir)
    t = s.withColumn("tmicros", F.unix_micros("time"))
    touches = (
        t.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "tmicros")
        .agg(F.max("event_id").alias("touch_id"))
    )
    purchases = t.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "time", "tmicros",
        F.lit(None).cast("long").alias("touch_id"),
        F.lit(0).alias("is_touch"),
    )
    u = purchases.unionByName(
        touches.select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            F.lit(None).cast("timestamp").alias("time"),
            "tmicros",
            "touch_id",
            F.lit(1).alias("is_touch"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("tmicros")
        .rangeBetween(-3600000000, -1)
    )
    key = F.when(F.col("is_touch") == 1, F.col("tmicros"))
    att = u.select(
        "event_id",
        "user_id",
        "time",
        "is_touch",
        F.max_by("touch_id", key).over(w).alias("last_touch_id"),
        F.min_by("touch_id", key).over(w).alias("first_touch_id"),
        F.coalesce(F.sum("is_touch").over(w), F.lit(0)).cast("long").alias("n_touches_1h"),
    )
    return att.filter(F.col("is_touch") == 0).drop("is_touch")


@query(
    "cusum_drift",
    """
WITH {base},
nn AS (SELECT event_id, user_id, time, value FROM base WHERE value IS NOT NULL),
dev AS (
  SELECT event_id, user_id, time,
         CAST(round(value * 100) AS BIGINT) - CAST(round(55.0 * 100) AS BIGINT) AS d
  FROM nn
),
pre AS (
  SELECT event_id, user_id, time,
         CAST(sum(d) OVER ({w}) AS BIGINT) AS p
  FROM dev
),
stat AS (
  SELECT event_id, user_id,
         CAST(p - least(CAST(0 AS BIGINT), min(p) OVER ({w})) AS BIGINT) AS cusum_cents
  FROM pre
)
SELECT event_id, user_id, cusum_cents,
       CASE WHEN cusum_cents > 50000 THEN 1 ELSE 0 END AS alarm
FROM stat
""".format(base=EVENTS_BASE, w=W),
)
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM upward-drift statistic per user (operators/window.py
    cusum — Page's changepoint monitor). The reset-at-zero recurrence
    s_i = max(0, s_{i-1} + (x_i - target - slack)) is rewritten as
    prefix_sum - min(0, running_min(prefix_sum)) — two native window
    functions over ONE (user_id, time) exchange+sort, never a row-at-a-time
    scan. Deviations accumulate as integer cents (target 50 + slack 5 =
    55.00), so the statistic is an order-exact bigint and alarms
    (> 500.00 drift-cents) hash-match in any engine."""
    s = events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    s = ops.cusum(
        s, "value", target=50.0, slack=5.0, scale=100,
        partition_by=["user_id"], out="cusum_cents", order_by=ORDER,
    )
    return s.select(
        "event_id",
        "user_id",
        "cusum_cents",
        F.when(F.col("cusum_cents") > 50000, F.lit(1)).otherwise(F.lit(0)).alias("alarm"),
    )


@query(
    "interpolate_gaps",
    """
WITH {base},
st AS (
  SELECT event_id, user_id, time, value_n,
         last_value(value_n IGNORE NULLS)
           OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN value_n IS NOT NULL THEN epoch_us(time) END IGNORE NULLS)
           OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
         first_value(value_n IGNORE NULLS)
           OVER ({w} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN value_n IS NOT NULL THEN epoch_us(time) END IGNORE NULLS)
           OVER ({w} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
  FROM base
)
SELECT event_id, user_id,
       CASE WHEN value_n IS NOT NULL THEN value_n
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN round(pv + (nv - pv) * ((epoch_us(time) - pt) * 1.0 / (nt - pt)), 6)
       END AS v_interp
FROM st
""".format(base=EVENTS_BASE, w=W),
)
def interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of interior nulls by event time
    (operators/window.interpolate_linear — completes the gap-fill family
    next to fill and forward_fill). Two IGNORE NULLS frames over ONE
    (user, time) exchange+sort; time ratios are exact integer-microsecond
    differences; leading/trailing nulls never extrapolate. Observed values
    pass through untouched."""
    s = events_stream(spark, sf_dir)
    s = ops.interpolate_linear(
        s, "value_n", partition_by=["user_id"], out="v_interp", order_by=ORDER
    )
    return s.select("event_id", "user_id", "v_interp")


@query(
    "table_profile",
    """
SELECT 'event_id' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num
FROM events
UNION ALL
SELECT 'user_id', count(*),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE)
FROM events
UNION ALL
SELECT 'value', count(*),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT value) AS BIGINT),
       CAST(min(value) AS DOUBLE), CAST(max(value) AS DOUBLE)
FROM events
UNION ALL
SELECT 'event_type', count(*),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM events
""",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (operators/profile.profile_table): null
    counts, exact distinct counts, numeric extrema for every column from a
    SINGLE aggregate over the table (multiple exact count-distincts plan
    as one Expand + aggregate — still one scan), unpivoted through typed
    literal structs. The catalog/data-discovery verb the coverage report
    generalizes to."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    return ops.profile_table(ev)
