"""Relational category demos over the driver's TPC-H-ish tables.

The reference has none of these (it is a raster library); the engine
gets them from stock Spark, and each query proves one piece of that
wiring against its DuckDB twin (SURVEY §2.3 category checklist):

- `q1_pricing` — partial+final hash aggregation (TPC-H Q1);
- `top_orders_per_segment` — broadcast join + window top-k;
- `orders_by_month` — date scalar functions;
- `events_json_stats` — JSON scalar extraction;
- `customers_without_orders` — anti-join;
- `revenue_rollup`, `revenue_cube` — ROLLUP and CUBE grouping sets;
- `shipping_priority` — 3-way join + distributed top-k (TPC-H Q3);
- `clicks_prior_purchase` — as-of join (`asof_join`);
- `events_pivot` — pivot;
- `rolling_user_value` — RANGE-frame window;
- `ntile_deciles` — one NTILE window over every partition's rows (E8).

`ewma_drift_sql` is the recursive-CTE oracle of the streaming
`stream_ewma` query (streaming/tile_stream.py).

Float determinism pattern: money sums go through exact integer cents
(`round(x*100)::bigint` summed, divided by 100.0 once at the end) so
results are bit-identical regardless of summation order / parallelism —
the same trick the spatial aggregates use (SURVEY §7.3 hard-part 1).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col: F.Column) -> F.Column:
    return F.round(col * 100).cast("long")


def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 analog: partial+final hash aggregation with exact-integer
    money sums."""
    li = _t(spark, sf_dir, "lineitem")
    disc_cents = F.round(cents(F.col("l_extendedprice")) * (1.0 - F.col("l_discount"))).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(cents(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
            (F.sum(disc_cents) / 100.0).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.sum(F.col("l_quantity").cast("long")) / F.count(F.lit(1)), 6).alias("avg_qty"),
        )
        .repartition(1).sortWithinPartitions("l_returnflag", "l_linestatus")
    )


def q1_pricing_sql() -> str:
    return """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
  SUM(CAST(round(CAST(round(l_extendedprice * 100) AS BIGINT) * (1.0 - l_discount)) AS BIGINT)) / 100.0
    AS sum_disc_price,
  COUNT(*) AS count_order,
  round(SUM(CAST(l_quantity AS BIGINT)) / COUNT(*), 6) AS avg_qty
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + window top-k (rank <= 3 per market segment)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    win = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        j.withColumn("rnk", F.row_number().over(win))
        .where(F.col("rnk") <= 3)
        .select("c_mktsegment", "rnk", "o_orderkey", "o_totalprice")
        .repartition(1).sortWithinPartitions("c_mktsegment", "rnk")
    )


def top_orders_per_segment_sql() -> str:
    return """
SELECT c_mktsegment, rnk, o_orderkey, o_totalprice FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders JOIN customer ON o_custkey = c_custkey)
WHERE rnk <= 3 ORDER BY c_mktsegment, rnk
"""


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar functions + aggregation: monthly order count/revenue."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents(F.col("o_totalprice"))) / 100.0).alias("revenue"),
        )
        .repartition(1).sortWithinPartitions("month")
    )


def orders_by_month_sql() -> str:
    return """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders GROUP BY 1 ORDER BY month
"""


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (props is a JSON string) + aggregation."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            (F.sum(cents(F.col("value"))) / 100.0).alias("sum_value"),
        )
        .repartition(1).sortWithinPartitions("event_type")
    )


def events_json_stats_sql() -> str:
    return """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (the op E9 resume primitive) + broadcast dim join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    no_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(nation), no_orders.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .repartition(1).sortWithinPartitions("n_name")
    )


def customers_without_orders_sql() -> str:
    return """
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name ORDER BY n_name
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets demo: revenue by (returnflag, linestatus) with
    subtotals; NULL group keys rendered as 'ALL' for a stable contract."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg((F.sum(cents(F.col("l_extendedprice"))) / 100.0).alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
        .repartition(1).sortWithinPartitions("returnflag", "linestatus")
    )


def revenue_rollup_sql() -> str:
    return """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog: 3-way join (customer ⋈ orders ⋈ lineitem) with
    date predicates on both fact legs, exact-cents revenue agg, global
    top-10 — compiled by Spark to TakeOrderedAndProject (per-partition
    top-k + driver merge, no full global sort)."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    disc_cents = F.round(
        cents(F.col("l_extendedprice")) * (1.0 - F.col("l_discount"))
    ).cast("long")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(disc_cents) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .repartition(1)
        .sortWithinPartitions(F.col("revenue").desc(), F.col("l_orderkey"))
    )


def shipping_priority_sql() -> str:
    return """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       SUM(CAST(round(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (1.0 - l_discount)) AS BIGINT)) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets demo (all four grouping combinations of
    returnflag x linestatus), NULL keys rendered 'ALL'."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg((F.sum(cents(F.col("l_extendedprice"))) / 100.0).alias("revenue"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
        .repartition(1).sortWithinPartitions("returnflag", "linestatus")
    )


def revenue_cube_sql() -> str:
    return """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload: tuple[str, ...],
) -> DataFrame:
    """As-of join (Spark has no native one): each left row picks the
    single right row with the same `key` and the greatest `ts` <= the
    left row's `ts`; unmatched left rows keep NULL payload (LEFT ASOF —
    the DuckDB `ASOF LEFT JOIN` semantics, which the oracle runs
    verbatim).

    Plan: the union-and-carry idiom — tag both sides, union, ONE window
    per key ordered by (ts, side) with right rows sorting before left at
    equal ts (<= semantics), then `last(payload, ignorenulls=True)` over
    the cumulative frame carries the latest prior right payload onto
    every left row.  Exactly one shuffle (the window partition) — the
    minimum any keyed as-of needs; a hot key salts the same way op E8
    salts hot cells (split the key's timeline, overlap-carry the last
    right row of the prior slice).

    Equal right timestamps within a key tie-break by the first payload
    column (greatest wins) so the result is deterministic under any
    partitioning."""
    lext = [c for c in left.columns if c not in (key, ts)]
    l = left.select(
        key, ts, F.lit(0).alias("_side"),
        *[F.col(c) for c in lext],
        *[
            F.lit(None).cast(right.schema[p].dataType).alias(f"r_{p}")
            for p in payload
        ],
    )
    r = right.select(
        key, ts, F.lit(1).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lext],
        *[F.col(p).alias(f"r_{p}") for p in payload],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").desc(), F.col(f"r_{payload[0]}").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l.unionByName(r).select(
        key, ts, "_side", *lext,
        *[
            F.last(f"r_{p}", ignorenulls=True).over(w).alias(f"r_{p}")
            for p in payload
        ],
    )
    return filled.where(F.col("_side") == 0).drop("_side")


def clicks_prior_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of demo: every click event joined to the same user's most
    recent prior-or-simultaneous purchase."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(clicks, purchases, key="user_id", ts="ts",
                    payload=("event_id", "value"))
    return out.select(
        "event_id",
        F.col("r_event_id").alias("prior_purchase_id"),
        F.col("r_value").alias("prior_value"),
    ).repartition(1).sortWithinPartitions("event_id")


def clicks_prior_purchase_sql() -> str:
    return """
WITH l AS (SELECT * FROM events WHERE event_type = 'click'),
     r AS (SELECT * FROM events WHERE event_type = 'purchase')
SELECT l.event_id,
       r.event_id AS prior_purchase_id,
       r.value AS prior_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (categorical -> columns): per user_id bucket, one column per
    event_type with the event count.  `groupBy().pivot(values=...)` with
    explicit pivot values keeps the plan a single partial+final agg (no
    extra distinct-values job)."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.col("user_id") % 10).alias("user_bucket")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(bucket)
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return out.select(
        "user_bucket", *[F.col(t).cast("long").alias(f"n_{t}") for t in types]
    ).repartition(1).sortWithinPartitions("user_bucket")


def events_pivot_sql() -> str:
    types = ["click", "error", "purchase", "signup", "view"]
    cols = ",\n       ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in types
    )
    return f"""
SELECT user_id % 10 AS user_bucket,
       {cols}
FROM events GROUP BY 1 ORDER BY 1
"""


def rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame window (time-based rolling aggregate): per event, the
    count and cents-exact sum of the same user's events in the preceding
    hour (inclusive).  RANGE frames bound by the timestamp VALUE — a
    different mechanism from the ROWS frames used elsewhere — and the
    money column is summed in integer cents so the hash is exact."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))  # microsecond-exact: a cast to long
        .rangeBetween(-3_600_000_000, 0)  # would floor-truncate and admit
    )  # rows the oracle's INTERVAL arithmetic excludes
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_hour"),
        F.sum(cents(F.col("value"))).over(w).alias("sum_cents_hour"),
    ).repartition(1).sortWithinPartitions("event_id")


def rolling_user_value_sql() -> str:
    return """
WITH ev AS (SELECT * FROM events WHERE event_id % 7 = 0)
SELECT event_id,
       COUNT(*) OVER w AS n_hour,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_cents_hour
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile census of customer account balances — the
    quantile-bucket window the BI layer runs for cohort pricing: rank
    customers into 10 equal-count tiles (order: balance, custkey — fully
    deterministic) and reduce each tile to count / min / max / sum in
    exact cents (DECIMAL(15,2)·100 — no float reaches the hash).

    Scale shape: a single global NTILE is a one-partition sort at
    10^12 rows — the real plan is range-partition by balance (the E8
    range partitioner) then tile within ranges; at gate scale the
    window + one partial+final agg is exact and the semantics
    identical."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        cents(F.col("c_acctbal")).alias("cents"),
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("c_custkey").asc())
    return (
        c.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
            F.sum("cents").alias("sum_cents"),
        )
        .repartition(1).sortWithinPartitions("decile")
    )


def ntile_deciles_sql() -> str:
    return """
WITH c AS (
  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer
),
t AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents ASC, c_custkey ASC) AS decile
  FROM c
)
SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_cust,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM t GROUP BY decile ORDER BY decile
"""


EWMA_SPIKE_CENTS = 20_000  # |x_t - s_{t-1}| above this is a spike


def ewma_drift_sql() -> str:
    return f"""
WITH RECURSIVE ev AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events
),
rec(user_id, rn, s, ssum, nspike) AS (
  SELECT user_id, rn, x, x, 0 FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         (7 * r.s + 3 * e.x) // 10,
         r.ssum + (7 * r.s + 3 * e.x) // 10,
         r.nspike + CASE WHEN ABS(e.x - r.s) > {EWMA_SPIKE_CENTS}
                         THEN 1 ELSE 0 END
  FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
)
SELECT user_id,
       CAST(MAX(rn) AS BIGINT) AS n_events,
       CAST(arg_max(s, rn) AS BIGINT) AS ewma_final,
       CAST(arg_max(ssum, rn) AS BIGINT) AS ewma_sum,
       CAST(arg_max(nspike, rn) AS BIGINT) AS n_spikes
FROM rec GROUP BY user_id ORDER BY user_id
"""
