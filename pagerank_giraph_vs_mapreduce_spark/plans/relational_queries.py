"""Relational query surface (SURVEY.md §7.2): the breadth the engine gets
from Spark SQL for free, each declared with a DuckDB oracle on the TPC-H-ish
testdata tables.

The reference has no relational layer at all (SURVEY.md §2.3 "no general
join operator"); this module is the declared evidence that the Spark-first
re-expression covers filters/projections, inner/left/semi/anti/broadcast
joins, hash aggregation, rollup/cube, distinct aggs, window functions,
sorts/limits, set ops, scalar functions and subqueries.

Determinism: money aggregates use per-row DECIMAL(38,12) casts (exact,
order-independent sums), rounded to 6 dp before the final double cast —
see graph_queries.py for why the pre-cast round matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table


def _dsum(col, alias):
    """Exact order-independent sum of a double column (Spark side)."""
    return F.round(F.sum(col.cast("decimal(38,12)")), 6).cast("double").alias(alias)


def _sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(38,12))), 6) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------- filters


@query(
    "rel_filter_project",
    oracle="""SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS disc_price
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45""",
)
def rel_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection; filters push to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 45)
    ).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
    )


@query(
    "rel_q1_pricing",
    oracle=f"""SELECT l_returnflag, l_linestatus,
       {_sql_dsum('l_quantity', 'sum_qty')},
       {_sql_dsum('l_extendedprice', 'sum_base_price')},
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {_sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
)
def rel_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate hash agg with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    disc = F.col("l_discount")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(price, "sum_base_price"),
            _dsum(price * (1 - disc), "sum_disc_price"),
            _dsum(price * (1 - disc) * (1 + F.col("l_tax")), "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------------------------ joins


@query(
    "rel_join_q3",
    oracle=f"""SELECT l_orderkey,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
)
def rel_join_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "rel_broadcast_dim_join",
    oracle=f"""SELECT r_name AS region, n_name AS nation,
       count(*) AS n_customers, {_sql_dsum('c_acctbal', 'total_acctbal')}
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name""",
)
def rel_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup with explicit broadcast of the small dims —
    the join strategy J1 needs at scale (SURVEY.md §2.3)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dsum(F.col("c_acctbal"), "total_acctbal"),
        )
    )


@query(
    "rel_semi_join",
    oracle="""SELECT c_mktsegment, count(*) AS n_with_orders
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment""",
)
def rel_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )


@query(
    "rel_anti_join",
    oracle="""SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
)
def rel_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "rel_outer_join",
    oracle="""SELECT s_suppkey, s_name, coalesce(li.n_items, 0) AS n_items
FROM supplier LEFT JOIN (
  SELECT l_suppkey, count(*) AS n_items FROM lineitem
  WHERE l_returnflag = 'R' GROUP BY l_suppkey) li
ON s_suppkey = li.l_suppkey""",
)
def rel_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )
    return s.join(li, s.s_suppkey == li.l_suppkey, "left").select(
        "s_suppkey",
        "s_name",
        F.coalesce(F.col("n_items"), F.lit(0)).cast("bigint").alias("n_items"),
    )


# ----------------------------------------------------------- aggregations


@query(
    "rel_agg_rollup",
    oracle=f"""SELECT l_returnflag, l_linestatus,
       count(*) AS n, {_sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def rel_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), _dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "rel_agg_cube",
    oracle="""SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)
def rel_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "rel_distinct_agg",
    oracle="""SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part
FROM lineitem GROUP BY l_returnflag""",
)
def rel_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


@query(
    "rel_having",
    oracle="""SELECT o_custkey, count(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING count(*) >= 15""",
)
def rel_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "rel_pivot",
    oracle="""SELECT l_returnflag,
       count(*) FILTER (WHERE l_linestatus = 'O') AS O,
       count(*) FILTER (WHERE l_linestatus = 'F') AS F
FROM lineitem GROUP BY l_returnflag""",
)
def rel_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )


# ---------------------------------------------------------------- windows


@query(
    "rel_win_rank",
    oracle="""SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3""",
)
def rel_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer; total ordering (price, key) so rank is
    deterministic across engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
    )


@query(
    "rel_win_running",
    oracle="""SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 6) AS running_value
FROM events""",
)
def rel_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum — the frame's total order makes double accumulation
    sequence-identical across engines; rounded anyway for safety."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 6).alias("running_value")
    )


@query(
    "rel_win_lag",
    oracle="""SELECT event_id, user_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS us_since_prev
FROM events""",
)
def rel_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("us_since_prev"),
    )


# --------------------------------------------------------- sort / set ops


@query(
    "rel_sort_limit",
    oracle="""SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""",
)
def rel_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@query(
    "rel_intersect",
    oracle="""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT SELECT o_custkey AS c_custkey FROM orders""",
)
def rel_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .intersect(o.select(F.col("o_custkey").alias("c_custkey")))
    )


@query(
    "rel_except",
    oracle="""SELECT l_partkey FROM lineitem
EXCEPT SELECT l_partkey FROM lineitem WHERE l_quantity >= 49""",
)
def rel_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts never ordered in bulk (set difference; subtract = EXCEPT DISTINCT)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_partkey").subtract(
        li.filter(F.col("l_quantity") >= 49).select("l_partkey")
    )


@query(
    "rel_union_all",
    oracle="""SELECT 'customer' AS kind, c_name AS name FROM customer WHERE c_acctbal < -900
UNION ALL SELECT 'supplier' AS kind, s_name AS name FROM supplier WHERE s_acctbal < 0""",
)
def rel_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return c.filter(F.col("c_acctbal") < -900).select(
        F.lit("customer").alias("kind"), F.col("c_name").alias("name")
    ).unionAll(
        s.filter(F.col("s_acctbal") < 0).select(
            F.lit("supplier").alias("kind"), F.col("s_name").alias("name")
        )
    )


# ----------------------------------------------- scalar funcs / subqueries


@query(
    "rel_string_funcs",
    oracle="""SELECT p_partkey,
       upper(p_brand) AS brand_u,
       substr(p_name, 1, 8) AS name8,
       length(p_name) AS name_len,
       replace(p_type, ' ', '_') AS type_id,
       concat(p_brand, ':', CAST(p_size AS VARCHAR)) AS brand_size
FROM part WHERE p_name LIKE '%red%'""",
)
def rel_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("%red%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_id"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
    )


@query(
    "rel_date_funcs",
    oracle="""SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       count(*) AS n_orders
FROM orders GROUP BY 1, 2, 3""",
)
def rel_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.month("o_orderdate").cast("bigint").alias("m"),
            F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
                "month_start"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "rel_case_coalesce",
    oracle="""SELECT
  CASE WHEN c_acctbal < 0 THEN 'negative'
       WHEN c_acctbal < 5000 THEN 'low'
       ELSE 'high' END AS bal_bucket,
  count(*) AS n
FROM customer GROUP BY 1""",
)
def rel_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return c.groupBy(bucket.alias("bal_bucket")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "rel_scalar_subquery",
    oracle="""SELECT count(*) AS n_above_avg FROM orders
WHERE o_totalprice > (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(38,12))) AS DOUBLE) / count(*)
  FROM orders)""",
)
def rel_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold computed via exact decimal sum so both engines derive the
    bit-identical average (a plain double avg is order-dependent). The
    scalar is a broadcast 1-row crossJoin, keeping the whole query one
    lazy plan (no driver action) and letting Spark share the scan."""
    o = load_table(spark, sf_dir, "orders")
    avg = o.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,12)")).cast("double")
         / F.count(F.lit(1))).alias("avg_price")
    )
    return (
        o.crossJoin(F.broadcast(avg))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


@query(
    "rel_q6_forecast",
    oracle=f"""SELECT {_sql_dsum('l_extendedprice * l_discount', 'revenue')},
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def rel_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan + two aggregates — the
    pushdown/codegen showcase (all predicates reach the parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "rel_q14_promo_ratio",
    oracle="""SELECT round(
  100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,12))
        ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE)
  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,12))) AS DOUBLE),
  6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'""",
)
def rel_q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio across a join; both
    sums decimal-exact so the ratio is engine-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,12)"
    )
    zero = F.lit(0).cast("decimal(38,12)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-09-01")
            & (F.col("l_shipdate") < "1995-10-01")
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type").like("PROMO%"), rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "rel_q18_large_orders",
    oracle=f"""SELECT c_custkey, c_name, o_orderkey,
       {_sql_dsum('l_quantity', 'total_qty')}
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey
HAVING sum(l_quantity) > 180""",
)
def rel_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: 3-way join + group + HAVING on an aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey")
        .agg(
            _dsum(F.col("l_quantity"), "total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 180)
        .drop("_raw_qty")
    )


@query(
    "rel_json_extract",
    oracle="""SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
FROM events WHERE event_type = 'purchase' AND CAST(props->>'$.k' AS BIGINT) >= 90""",
)
def rel_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.filter((F.col("event_type") == "purchase") & (k >= 90))
        .select("event_id", k.alias("k"))
    )


@query(
    "rel_win_ranking_family",
    oracle="""SELECT o_orderkey,
  row_number() OVER w AS rn,
  dense_rank() OVER w AS drk,
  ntile(4) OVER w AS quartile,
  round(percent_rank() OVER w, 9) AS prk,
  round(cume_dist() OVER w, 9) AS cd,
  lead(o_orderkey) OVER w AS next_key
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""",
)
def rel_win_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one totally-ordered window
    (price, key) — row_number/dense_rank/ntile/percent_rank/cume_dist/lead
    all deterministic because the ordering is a total order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("prk"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.lead("o_orderkey").over(w).alias("next_key"),
    )


@query(
    "rel_q5_local_supplier",
    oracle=f"""SELECT n_name AS nation,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name""",
)
def rel_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join (local-supplier revenue by nation,
    one region, one order year). The interesting physics is join planning
    — region/nation broadcast, the supplier join carries the correlated
    s_nationkey = c_nationkey condition, and Catalyst/AQE orders the big
    fact joins; the query itself stays fully declarative."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "rel_user_funnel",
    oracle="""WITH stage AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_viewed,
       CAST(count(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT) AS n_clicked_after_view,
       CAST(count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS BIGINT)
         AS n_purchased_after_click
FROM stage""",
)
def rel_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view -> click -> purchase, time-
    ordered via each user's FIRST event of each stage): one conditional-
    min aggregation per user, one global conditional count — two
    map-side-combined aggregations total, no self-joins. The standard
    product-analytics funnel at event-log scale."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(etype: str):
        return F.min(
            F.when(F.col("event_type") == etype, F.col("ts_us"))
        ).alias(f"t_{etype}")

    stage = ev.groupBy("user_id").agg(
        first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(
            F.when(F.col("t_click") > F.col("t_view"), 1)
        ).alias("n_clicked_after_view"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_purchased_after_click"),
    )


# ------------------------------------------- round-4 TPC-H shape breadth


@query(
    "rel_q7_volume_shipping",
    oracle=f"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3""",
)
def rel_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral nation-pair trade volume by ship year.
    The nation dim joins twice under different roles (supplier side,
    customer side) — both broadcast; the symmetric pair predicate lands
    after the second nation join; fact-side date filter pushes to the
    scan."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") <= "1997-12-31")
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "rel_q8_market_share",
    oracle="""WITH allnations AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation cn ON cn.n_nationkey = c_nationkey
  JOIN region ON r_regionkey = cn.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation sn ON sn.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA')
SELECT o_year,
       round(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                ELSE 0 END AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(sum(CAST(volume AS DECIMAL(38,12))) AS DOUBLE),
             6) AS mkt_share
FROM allnations GROUP BY o_year""",
)
def rel_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's order volume per
    year — conditional aggregation (CASE inside SUM) over a 6-table join
    with the region filter pruning through two broadcast dims. Share =
    exact-decimal conditional sum / exact-decimal total, one double
    division rounded to 6 dp (cross-engine deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    dec = lambda col: col.cast("decimal(38,12)")  # noqa: E731
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("cn_rkey"),
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    dec(
                        F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
                            0.0
                        )
                    )
                ).cast("double")
                / F.sum(dec(volume)).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "rel_q10_returned_items",
    oracle=f"""SELECT c_custkey, c_name, n_name,
       {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def rel_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in a date
    window, deterministic top-20. Both fact filters (order-date range,
    returnflag) push to their scans before the joins; nation broadcasts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(
            o.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-07-01")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "rel_q13_order_distribution",
    oracle="""WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY c_count""",
)
def rel_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts — a
    left join whose extra predicate lives in the JOIN condition (not the
    WHERE, which would turn it inner), then a second aggregation over the
    first's output. count(o_orderkey) counts only matched rows, so
    no-order customers land in the c_count=0 bucket."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "rel_q19_disjunctive",
    oracle=f"""SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)""",
)
def rel_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions spanning both join sides.
    Catalyst cannot push the cross-side disjunction whole, but it DOES
    derive and push the per-side implied disjunctions (p_brand IN (...)
    to the part scan, l_quantity range union to the lineitem scan) —
    the constraint-propagation case a naive engine misses."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(p, F.col("p_partkey") == F.col("l_partkey"))
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#2") & size.between(1, 25) & qty.between(10, 20))
        | ((brand == "Brand#3") & size.between(1, 35) & qty.between(20, 30))
    )
    return joined.filter(cond).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "rel_q22_idle_customers",
    oracle="""WITH avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(38,12))) AS DOUBLE)
         / count(*) AS ab
  FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey,
       count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,12))), 6) AS DOUBLE)
         AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey""",
)
def rel_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no RECENT orders (the
    churn-candidate variant — in this testdata every customer has some
    order, so the pure never-ordered anti-join would be vacuously empty)
    — a scalar threshold computed in-plan (exact-decimal sum / count,
    one deterministic double division, broadcast back) gating an
    anti-join against the date-pruned orders fact, grouped by nation.
    No driver-side .first(): the threshold rides the plan as a 1-row
    broadcast."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            o.filter(F.col("o_orderdate") >= "2000-01-01"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal"), "totacctbal"),
        )
    )


@query(
    "rel_upsert_merge",
    oracle="""WITH delta AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS new_price
  FROM orders WHERE o_orderkey % 100 = 0
  UNION ALL
  SELECT o_orderkey + 10000000 AS o_orderkey, 42.0 AS new_price
  FROM orders WHERE o_orderkey % 500 = 0)
SELECT coalesce(b.o_orderkey, d.o_orderkey) AS o_orderkey,
       coalesce(d.new_price, b.o_totalprice) AS final_price,
       CASE WHEN b.o_orderkey IS NULL THEN 'insert'
            WHEN d.o_orderkey IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM orders b FULL OUTER JOIN delta d ON d.o_orderkey = b.o_orderkey""",
)
def rel_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE/upsert shape in plain DataFrame ops — full outer join on
    the key, coalesce preferring the delta, per-row action classification
    (update / insert / keep). This is how an engine without a
    transactional table format applies a CDC batch: at scale the join
    shuffles both sides by key once (or zero times if base and delta are
    bucketed by key — tests/test_bucketing.py demonstrates the
    exchange-free variant), and the price arithmetic is an exact double
    shift so the oracle needs no rounding at all."""
    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + 1000.0).alias("new_price")
    )
    inserts = o.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit(42.0).alias("new_price"),
    )
    delta = updates.unionAll(inserts)
    b = o.select(F.col("o_orderkey").alias("bk"), "o_totalprice")
    d = delta.select(F.col("o_orderkey").alias("dk"), "new_price")
    return b.join(d, b.bk == d.dk, "full_outer").select(
        F.coalesce(F.col("bk"), F.col("dk")).alias("o_orderkey"),
        F.coalesce(F.col("new_price"), F.col("o_totalprice")).alias(
            "final_price"
        ),
        F.when(F.col("bk").isNull(), "insert")
        .when(F.col("dk").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query(
    "rel_salted_skew_join",
    oracle="""WITH fact AS (
  SELECT l_orderkey % 10 AS hot_key, l_quantity FROM lineitem),
dim AS (
  SELECT o_orderkey % 10 AS hot_key, min(o_totalprice) AS dim_price
  FROM orders GROUP BY 1)
SELECT f.hot_key,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(f.l_quantity AS DECIMAL(38,12))) AS DOUBLE) AS sum_qty,
       min(d.dim_price) AS dim_price
FROM fact f JOIN dim d USING (hot_key)
GROUP BY f.hot_key""",
)
def rel_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join, driver-certified (operators/skew.py:salted_join):
    the fact side is collapsed onto 10 deliberately hot keys (every key
    ~6k rows at sf0.01, ~600M at 100 TB — exactly the shape where one
    reducer drowns), the dim side is replicated salt_n=8 times, and the
    join key becomes (key, salt) so each hot key spreads over 8 reducers.
    The salt is a content hash, not rand(), so retries and the oracle are
    deterministic; results must equal the plain join bit-for-bit (exact
    DECIMAL sum). Plan-level spreading is pinned by
    tests/test_skew_and_adjacency.py; this row certifies the semantics
    end-to-end in the gate."""
    from pagerank_giraph_vs_mapreduce_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fact = li.select(
        (F.col("l_orderkey") % 10).alias("hot_key"), "l_quantity"
    )
    dim = o.groupBy((F.col("o_orderkey") % 10).alias("hot_key")).agg(
        F.min("o_totalprice").alias("dim_price")
    )
    joined = salted_join(fact, dim, "hot_key", salt_n=8)
    return joined.groupBy("hot_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,12)"))
        .cast("double")
        .alias("sum_qty"),
        F.min("dim_price").alias("dim_price"),
    )


@query(
    "rel_scd2_history",
    oracle="""WITH vers AS (
  SELECT o_orderkey, o_totalprice AS price, CAST(1 AS BIGINT) AS seq
  FROM orders WHERE o_orderkey % 50 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice + 100.0, CAST(2 AS BIGINT)
  FROM orders WHERE o_orderkey % 100 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice + 250.0, CAST(3 AS BIGINT)
  FROM orders WHERE o_orderkey % 200 = 0)
SELECT o_orderkey, price,
       seq AS valid_from,
       lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to,
       lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) IS NULL
         AS is_current
FROM vers""",
)
def rel_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build — rel_upsert_merge extended from
    latest-wins to VERSIONED rows, the ingest
    pattern a long-lived corpus pipeline hits when provenance must
    survive updates: a stream of keyed change versions (here three
    deterministic CDC batches over orders, seq = batch ordinal) becomes
    one row per version carrying [valid_from, valid_to) and an
    is_current flag, via a single lead() window per key. At 100 TB the
    window is key-partitioned (key cardinality = table size; no skew —
    versions per key are bounded by batch count) and there is no global
    sort; in a real pipeline valid_from/valid_to are the batch
    event-times, which changes nothing structurally. Price arithmetic is
    an exact double shift so the oracle needs no rounding."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")

    def batch(mod: int, shift: float, seq: int) -> DataFrame:
        return o.filter(F.col("o_orderkey") % mod == 0).select(
            "o_orderkey",
            (F.col("o_totalprice") + shift).alias("price"),
            F.lit(seq).cast("bigint").alias("seq"),
        )

    vers = (
        batch(50, 0.0, 1)
        .unionAll(batch(100, 100.0, 2))
        .unionAll(batch(200, 250.0, 3))
    )
    w = Window.partitionBy("o_orderkey").orderBy("seq")
    nxt = F.lead("seq").over(w)
    return vers.select(
        "o_orderkey",
        "price",
        F.col("seq").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "rel_retention_cohorts",
    oracle="""WITH firsts AS (
  SELECT user_id, min(epoch_us(ts)) // 604800000000 AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         epoch_us(e.ts) // 604800000000 - f.cohort_week AS week_offset
  FROM events e JOIN firsts f USING (user_id))
SELECT cohort_week, week_offset, count(*) AS n_users
FROM activity GROUP BY cohort_week, week_offset""",
)
def rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort analysis — the product-analytics staple the funnel
    query doesn't cover: users cohorted by first-activity epoch-week, then
    counted per (cohort, week-offset) cell of the retention triangle.
    Two map-side-combined aggregations plus one user-keyed join (the
    firsts table is one row per user — broadcastable when the user dim
    fits, shuffled-by-key otherwise); all week arithmetic is exact
    integer division on epoch-micros."""
    ev = load_table(spark, sf_dir, "events")
    week = F.expr("ts_us div 604800000000")
    firsts = ev.groupBy("user_id").agg(
        F.expr("min(ts_us) div 604800000000").alias("cohort_week")
    )
    activity = (
        ev.select("user_id", week.alias("week"))
        .distinct()
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "rel_q14_promo_revenue",
    oracle="""SELECT
  CAST(round(100.00 * sum(CAST(CASE WHEN p_type = 'PROMO'
           THEN l_extendedprice * (1 - l_discount) ELSE 0 END
           AS DECIMAL(38,12)))
       / sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,12))), 6)
       AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'""",
)
def rel_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregation over
    a fact-dim join with a pushed date-range filter. Both sums accumulate
    as exact DECIMAL so the cross-engine division input is bit-identical;
    part broadcasts, the lineitem scan prunes to one month before the
    join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    ).join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.round(
            F.lit(100.00)
            * F.sum(
                F.when(F.col("p_type") == "PROMO", rev)
                .otherwise(F.lit(0.0))
                .cast("decimal(38,12)")
            )
            / F.sum(rev.cast("decimal(38,12)")),
            6,
        )
        .cast("double")
        .alias("promo_revenue_pct")
    )


@query(
    "rel_q15_top_supplier",
    oracle="""WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,12))), 6) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey""",
)
def rel_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue — an aggregate
    reused twice (per-supplier revenue AND its global max) with an
    equality filter, the classic shared-view pattern. The revenue frame
    appears on both sides; the 1-row max broadcasts, so the 'subquery'
    is a broadcast-crossJoin filter, not a recompute-and-sort. Revenue
    is decimal-summed then rounded so the equality compare is exact on
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_revenue",
            )
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "rel_q17_small_quantity",
    oracle="""WITH part_avg AS (
  SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS threshold
  FROM lineitem GROUP BY l_partkey)
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,12))) / 7.0, 6)
            AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN part_avg ON pk = l_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < threshold""",
)
def rel_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity-order revenue — the correlated
    'quantity below 20% of this part's average' subquery decorrelated
    into a per-part aggregate joined back to the fact (exactly what
    Catalyst does to the correlated form; written decorrelated so plan
    and oracle agree structurally). avg(l_quantity) is IEEE double on
    identical per-part input sets in both engines; the revenue sum is
    exact DECIMAL. Threshold comparison is per-row double — no ordering
    hazard."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("threshold")
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") == "Brand#1")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(part_avg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,12)"))
                / 7.0,
                6,
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


# ------------------------------------------- remaining TPC-H query shapes
# (q2/q4/q9/q11/q12/q16/q20/q21 — the fixture has no partsupp table and no
# l_shipmode/l_commitdate/l_receiptdate columns, so where the official
# query touches those, the same PLAN SHAPE is kept with the nearest
# derivable stand-in: supplier-part pairs come from DISTINCT
# (l_partkey, l_suppkey), supply cost from 0.5 * p_retailprice, and
# lateness from l_shipdate vs o_orderdate. The point of each query is its
# shape — correlated EXISTS, anti-correlated NOT EXISTS, HAVING against a
# global scalar, per-group argmin — and how Catalyst plans it.)


@query(
    "rel_q4_order_priority",
    oracle="""SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority""",
)
def rel_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS decorrelated to a LEFT SEMI join
    with a non-equi residual (late line = shipped >60 days after order).
    Catalyst plans the semi join on the l_orderkey equi-key with the date
    comparison as a join residual — one shuffle pair, no row explosion
    (semi join emits each order at most once, no distinct needed)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "rel_q9_product_profit",
    oracle=f"""SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS yr,
       {_sql_dsum('l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity', 'profit')}
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2""",
)
def rel_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: 4-way join then profit aggregation by (supplier
    nation, ship year). The fact-fact join (lineitem x part-filter) keys
    on l_partkey; part/supplier/nation are broadcast dims (all far under
    the threshold), so the only shuffle is the final group-by — at 100 TB
    the p_name filter prunes part BEFORE broadcast. Supply cost is
    0.5*p_retailprice (no partsupp in the fixture)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(_dsum(profit, "profit"))
    )


@query(
    "rel_q12_priority_lines",
    oracle="""SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus""",
)
def rel_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact equi-join with a non-equi residual
    (very-late lines), then conditional CASE-sum pivot by priority class.
    Lateness stands in for the missing receipt/commit dates."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@query(
    "rel_q16_supplier_part_count",
    oracle="""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size""",
)
def rel_q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute group
    with a NOT IN exclusion subquery (the complaint-supplier filter) —
    planned as a broadcast LEFT ANTI join against the (tiny) excluded-
    supplier list. Supplier-part pairs derive from distinct lineitem
    pairs (no partsupp in the fixture); the distinct is the only
    fact-sized shuffle and doubles as the join-input dedup."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.count_distinct(F.col("l_suppkey"))
            .cast("bigint")
            .alias("supplier_cnt")
        )
    )


@query(
    "rel_q20_excess_shipped",
    oracle="""SELECT s_name, round(s_acctbal, 6) AS s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 60)""",
)
def rel_q20_excess_shipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: semi-join chain — suppliers having shipped an
    excess quantity (>60) of some 'red' part. The inner aggregate groups
    the fact table by (suppkey, partkey) after a broadcast part-filter
    join; the outer IN becomes a LEFT SEMI join against the (small)
    qualifying-supplier set. Shipped quantity stands in for ps_availqty."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    qual = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
    )
    return s.join(
        qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_name", F.round("s_acctbal", 6).alias("s_acctbal"))


@query(
    "rel_q21_waiting_supplier",
    oracle="""SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10""",
)
def rel_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the hardest decorrelation in the suite — a
    correlated EXISTS (another supplier touched the order) AND a
    correlated NOT EXISTS (no OTHER supplier was late on it), both
    against the same fact table. Expressed as LEFT SEMI then LEFT ANTI
    joins on the l_orderkey equi-key with suppkey/date residuals; the
    anti join carries the outer o_orderdate into its residual, which is
    exactly what the correlated subquery does. Lateness = shipped >30
    days after order (no receipt/commit dates in the fixture)."""
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_suppkey").alias("sk1"),
        F.col("l_shipdate").alias("ship1"),
    )
    base = l1.join(o, F.col("k1") == F.col("o_orderkey")).filter(
        F.col("ship1") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    base = base.join(
        l2,
        (F.col("k2") == F.col("k1")) & (F.col("sk2") != F.col("sk1")),
        "left_semi",
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("ship3"),
    )
    base = base.join(
        l3,
        (F.col("k3") == F.col("k1"))
        & (F.col("sk3") != F.col("sk1"))
        & (F.col("ship3") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_anti",
    )
    return (
        base.join(F.broadcast(s), F.col("s_suppkey") == F.col("sk1"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@query(
    "rel_q2_min_cost_supplier",
    oracle="""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
eu AS (
  SELECT s_suppkey, s_name, s_acctbal
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'),
ranked AS (
  SELECT p_partkey, p_name, s_name, round(s_acctbal, 6) AS s_acctbal,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal, s_suppkey) AS rn
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN eu ON s_suppkey = l_suppkey
  WHERE p_size = 15)
SELECT p_partkey, p_name, s_name, s_acctbal
FROM ranked WHERE rn = 1""",
)
def rel_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin over a region-restricted supplier
    candidate set (the correlated MIN(ps_supplycost) subquery,
    decorrelated to a partition-window argmin with a deterministic
    suppkey tie-break). Candidate pairs derive from distinct lineitem
    pairs and min acctbal stands in for min supplycost (no partsupp).
    nation⋈region⋈supplier collapses to a broadcast dim; the window
    partitions by p_partkey — at scale the same key the pairs shuffle
    already produced, so AQE coalesces rather than re-exchanges."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("s_acctbal_raw"), F.asc("s_suppkey")
    )
    cand = (
        ps.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("s_acctbal").alias("s_acctbal_raw"),
            "s_suppkey",
        )
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("s_acctbal_raw", 6).alias("s_acctbal"),
        )
    )


@query(
    "rel_q11_important_parts",
    oracle=f"""WITH val AS (
  SELECT l_partkey,
         {_sql_dsum('l_extendedprice * (1 - l_discount)', 'value')}
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7')
  GROUP BY l_partkey)
SELECT l_partkey, value FROM val
WHERE value > (SELECT 0.002 * sum(value) FROM val)""",
)
def rel_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value restricted to two nations'
    suppliers, HAVING against a GLOBAL scalar (0.2% of total) — the
    scalar subquery becomes a 1-row broadcast crossJoin over the same
    aggregate, so the fact table is scanned and shuffled exactly once
    and the threshold comparison is a row-local filter."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    val = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "value"))
    )
    total = val.agg(
        (F.sum(F.col("value").cast("decimal(38,12)")) * F.lit(0.002))
        .cast("double")
        .alias("thr")
    )
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("thr"))
        .select("l_partkey", "value")
    )


@query(
    "rel_bloom_semi_join",
    oracle=f"""SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {_sql_dsum("o_totalprice", "sum_price")}
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority""",
)
def rel_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-bloom-filtered semi join (operators/bloom.py): orders of
    BUILDING-segment customers, aggregated by priority. The dim keys fold
    into an ~8 KB bitmap broadcast as ONE row; the fact side is pre-filtered
    by codegen'd hash+shift+AND probes BEFORE the exact semi join, so at
    scale the shuffle/join volume tracks the ~20% selected fraction instead
    of the full fact table. Value-identical to the plain semi join — the
    exact join kills bloom false positives, and false negatives are
    structurally impossible (same hash family on both sides)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.bloom import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    matched = bloom_semi_join(orders, "o_custkey", dim, "c_custkey")
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice"), "sum_price"),
    )


@query(
    "rel_exact_quantiles",
    oracle="""WITH t(label, q) AS (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99)),
n AS (SELECT count(*) AS cnt FROM lineitem),
ranks AS (SELECT label, CAST(ceil(q * cnt) AS BIGINT) AS r FROM t, n),
ordered AS (
  SELECT l_extendedprice AS v,
         row_number() OVER (ORDER BY l_extendedprice) AS rn
  FROM lineitem
)
SELECT label, v AS value FROM ranks JOIN ordered ON rn = r""",
)
def rel_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile_disc(p50/p90/p99) without a global sort.

    The naive exact quantile is row_number() over a global ORDER BY —
    a single-partition window that serializes 100 TB through one task
    (that shape is reserved for the DuckDB oracle, where it's fine).
    The engine-side plan is the classic two-phase bucket quantile:

      1. histogram: groupBy(floor(v/100)) — map-side-combinable, output
         is O(value range / bucket width) rows (~1k here), independent
         of row count; the cumulative sum runs on the tiny histogram;
      2. the target rank r = ceil(q*N) lands in exactly one bucket
         (cum >= r and cum-before < r); only rows of the (broadcast-
         joined) target buckets are ranked, partitioned BY BUCKET —
         parallel, and each bucket holds ~1/1000th of the data.

    So the full data is scanned twice but never globally sorted, and the
    only per-row shuffle is the final in-bucket rank over the ~3 target
    buckets' rows. Exactness: the r-th smallest VALUE is well-defined
    under ties regardless of row_number tie order."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    bucketed = li.select(
        F.floor(F.col("l_extendedprice") / 100).cast("bigint").alias("bkt"),
        F.col("l_extendedprice").alias("v"),
    )
    hist = bucketed.groupBy("bkt").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("bkt", "c", F.sum("c").over(wcum).alias("cum"))
    targets = (
        cum.agg(F.max("cum").alias("n"))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lbl).alias("label"),
                            F.ceil(F.lit(q) * F.col("n")).cast("bigint").alias("r"),
                        )
                        for lbl, q in qs
                    ]
                )
            ).alias("t")
        )
        .select(F.col("t.label").alias("label"), F.col("t.r").alias("r"))
    )
    tb = targets.join(
        cum,
        (F.col("cum") >= F.col("r")) & (F.col("cum") - F.col("c") < F.col("r")),
    ).select(
        "label",
        "bkt",
        (F.col("r") - (F.col("cum") - F.col("c"))).alias("within_rank"),
    )
    wb = Window.partitionBy("bkt", "label").orderBy("v")
    return (
        bucketed.join(F.broadcast(tb), "bkt")
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == F.col("within_rank"))
        .select("label", F.col("v").alias("value"))
    )


@query(
    "rel_exact_quantiles_grouped",
    oracle="""WITH t(label, q) AS (VALUES ('p50', 0.5), ('p90', 0.9), ('p99', 0.99)),
n AS (SELECT l_returnflag AS grp, count(*) AS cnt FROM lineitem GROUP BY 1),
ranks AS (SELECT grp, label, CAST(ceil(q * cnt) AS BIGINT) AS r FROM t, n),
ordered AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn
  FROM lineitem
)
SELECT ranks.grp, label, v AS value
FROM ranks JOIN ordered ON ordered.grp = ranks.grp AND rn = r""",
)
def rel_exact_quantiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact percentile_disc — the everyday production ask
    ("p50/p90/p99 per tenant") done without any global or whale-group
    sort. Same two-phase bucket scheme as rel_exact_quantiles, but here
    EVERY stage is group-partitioned: the histogram groups by (grp,
    bucket); the cumulative sum windows by grp over the tiny per-group
    histograms (parallel across groups — unlike the global variant there
    is no single-partition window anywhere); the per-(grp, quantile)
    target rank lands in one bucket; and the final in-bucket rank
    windows by (grp, bucket, label) over ~one-thousandth of each group.
    A whale tenant costs one extra bucket scan, never a full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    qs = (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    bucketed = li.select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") / 100).cast("bigint").alias("bkt"),
        F.col("l_extendedprice").alias("v"),
    )
    hist = bucketed.groupBy("grp", "bkt").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select("grp", "bkt", "c", F.sum("c").over(wcum).alias("cum"))
    targets = (
        cum.groupBy("grp")
        .agg(F.max("cum").alias("n"))
        .select(
            "grp",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lbl).alias("label"),
                            F.ceil(F.lit(q) * F.col("n")).cast("bigint").alias("r"),
                        )
                        for lbl, q in qs
                    ]
                )
            ).alias("t"),
        )
        .select("grp", F.col("t.label").alias("label"), F.col("t.r").alias("r"))
    )
    tb = targets.join(
        cum.withColumnsRenamed({"grp": "cgrp"}),
        (F.col("grp") == F.col("cgrp"))
        & (F.col("cum") >= F.col("r"))
        & (F.col("cum") - F.col("c") < F.col("r")),
    ).select(
        "grp",
        "label",
        "bkt",
        (F.col("r") - (F.col("cum") - F.col("c"))).alias("within_rank"),
    )
    wb = Window.partitionBy("grp", "bkt", "label").orderBy("v")
    return (
        bucketed.join(F.broadcast(tb), ["grp", "bkt"])
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == F.col("within_rank"))
        .select("grp", "label", F.col("v").alias("value"))
    )


@query(
    "rel_outlier_zscore",
    oracle="""WITH s AS (
  SELECT l_returnflag AS grp,
    count(*) AS n,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY 1),
m AS (
  SELECT grp, n, sx / n AS mean,
         sqrt(sxx / n - (sx / n) * (sx / n)) AS std
  FROM s)
SELECT l.l_orderkey, l.l_linenumber, m.grp,
       round((l.l_extendedprice - m.mean) / m.std, 9) AS z
FROM lineitem l JOIN m ON m.grp = l.l_returnflag
WHERE abs(l.l_extendedprice - m.mean) > 1.6 * m.std""",
)
def rel_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier flagging — the everyday data-quality
    sweep (cut at 1.6 sigma: the testdata prices are uniform-ish, and a
    uniform distribution is bounded at |z| <= sqrt(3) ~ 1.73, so the
    classic 2.5-3 sigma cut can never fire by construction) — as one
    pass of group moments + a broadcast join back (the
    groupBy output is group-cardinality-sized; no window touches the
    fact rows). Cross-engine exactness: the sums run as DECIMAL
    (order-independent — the 2-dp source values make the DECIMAL(18,2)
    casts lossless and the squares exact at 4 dp; wider scales overflow
    DuckDB's HUGEINT accumulator), the division and subtraction are
    IEEE-deterministic, and sqrt is CORRECTLY ROUNDED by IEEE 754
    (unlike exp/ln), so the z-scores hash-match exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    m = (
        li.groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(x * x).cast("double").alias("sxx"),
        )
        .select(
            "grp",
            (F.col("sx") / F.col("n")).alias("mean"),
            F.sqrt(
                F.col("sxx") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
            ).alias("std"),
        )
    )
    return (
        li.join(F.broadcast(m), li.l_returnflag == m.grp)
        .filter(
            F.abs(F.col("l_extendedprice") - F.col("mean"))
            > 1.6 * F.col("std")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "grp",
            F.round(
                (F.col("l_extendedprice") - F.col("mean")) / F.col("std"), 9
            ).alias("z"),
        )
    )


def _grouped_median(df: DataFrame, bucket_div: float) -> DataFrame:
    """Exact per-group median (rank ceil(n/2), percentile_disc
    semantics) of ``v`` over ``(grp, v)`` rows — the two-phase
    histogram-bucket scheme of rel_exact_quantiles_grouped, reused:
    bucket histogram, per-group cumulative sum over the tiny histogram,
    target rank lands in one bucket, in-bucket row_number. No group is
    ever globally sorted. Returns (grp, med)."""
    bucketed = df.select(
        "grp", F.floor(F.col("v") / bucket_div).cast("bigint").alias("bkt"), "v"
    )
    hist = bucketed.groupBy("grp", "bkt").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select("grp", "bkt", "c", F.sum("c").over(wcum).alias("cum"))
    targets = (
        cum.groupBy("grp")
        .agg(F.max("cum").alias("n"))
        .select("grp", F.ceil(F.lit(0.5) * F.col("n")).cast("bigint").alias("r"))
    )
    tb = targets.join(
        cum.withColumnsRenamed({"grp": "cgrp"}),
        (F.col("grp") == F.col("cgrp"))
        & (F.col("cum") >= F.col("r"))
        & (F.col("cum") - F.col("c") < F.col("r")),
    ).select(
        "grp", "bkt", (F.col("r") - (F.col("cum") - F.col("c"))).alias("wr")
    )
    wb = Window.partitionBy("grp", "bkt").orderBy("v")
    return (
        bucketed.join(F.broadcast(tb), ["grp", "bkt"])
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == F.col("wr"))
        .select("grp", F.col("v").alias("med"))
    )


@query(
    "rel_outlier_mad",
    oracle="""WITH nn AS (
  SELECT l_returnflag AS grp, count(*) AS cnt FROM lineitem GROUP BY 1),
om AS (
  SELECT l_returnflag AS grp, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn
  FROM lineitem),
med AS (
  SELECT om.grp, v AS med FROM om JOIN nn ON nn.grp = om.grp
  WHERE rn = CAST(ceil(0.5 * cnt) AS BIGINT)),
dev AS (
  SELECT l.l_orderkey, l.l_linenumber, m.grp,
         abs(l.l_extendedprice - m.med) AS d
  FROM lineitem l JOIN med m ON m.grp = l.l_returnflag),
od AS (
  SELECT grp, d,
         row_number() OVER (PARTITION BY grp ORDER BY d) AS rn,
         count(*) OVER (PARTITION BY grp) AS cnt
  FROM dev),
mad AS (
  SELECT grp, d AS mad FROM od
  WHERE rn = CAST(ceil(0.5 * cnt) AS BIGINT))
SELECT dev.l_orderkey, dev.l_linenumber, dev.grp,
       round(0.6745 * dev.d / mad.mad, 9) AS mz
FROM dev JOIN mad ON mad.grp = dev.grp
WHERE mad.mad > 0 AND dev.d > 1.8 * mad.mad""",
)
def rel_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MAD (median-absolute-deviation) outlier sweep — the
    ROBUST companion to rel_outlier_zscore: mean/std move with the very
    outliers they are hunting (one wild row inflates sigma and masks the
    rest), while the median and MAD have a 50% breakdown point. Emits
    the Iglewicz-Hoaglin modified z-score 0.6745*d/MAD for rows with
    d > 1.8*MAD (the uniform-ish fixture bounds d <= 2*MAD, so the
    textbook 3.5 cut can never fire by construction — same reasoning as
    the 1.6-sigma choice in rel_outlier_zscore).

    Scale shape: TWO exact per-group medians (values, then deviations),
    each via the two-phase histogram-bucket scheme (_grouped_median) —
    no group is ever sorted whole; the medians broadcast back onto the
    fact rows. Cross-engine exactness: the median/MAD are actual data
    elements (percentile_disc rank ceil(n/2)); d = |v - med| and the
    final multiply/divide are IEEE-deterministic, so mz hash-matches
    the window-form oracle exactly. MAD = 0 groups (a majority tied at
    the median) are excluded by the same guard in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    med = _grouped_median(
        li.select(F.col("l_returnflag").alias("grp"),
                  F.col("l_extendedprice").alias("v")),
        100.0,
    )
    dev = li.join(
        F.broadcast(med), li.l_returnflag == med.grp
    ).select(
        "l_orderkey",
        "l_linenumber",
        "grp",
        F.abs(F.col("l_extendedprice") - F.col("med")).alias("d"),
    )
    mad = _grouped_median(
        dev.select("grp", F.col("d").alias("v")), 100.0
    ).withColumnsRenamed({"med": "mad"})
    return (
        dev.join(F.broadcast(mad), "grp")
        .filter((F.col("mad") > 0) & (F.col("d") > 1.8 * F.col("mad")))
        .select(
            "l_orderkey",
            "l_linenumber",
            "grp",
            F.round(F.lit(0.6745) * F.col("d") / F.col("mad"), 9).alias("mz"),
        )
    )


@query(
    "rel_corr_exact",
    oracle="""WITH s AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem)
SELECT n,
  round((sxy / n - (sx / n) * (sy / n))
        / (sqrt(sxx / n - (sx / n) * (sx / n))
           * sqrt(syy / n - (sy / n) * (sy / n))), 9) AS corr_qty_price
FROM s""",
)
def rel_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from first principles — Spark's built-in
    ``corr`` aggregate sums doubles in partition order (last-bit
    nondeterminism across layouts, and no DuckDB bit-parity), so this
    computes the five moments as order-independent DECIMAL sums and
    applies the closed form with IEEE-exact division and correctly-
    rounded sqrt: a statistics aggregate with an exact cross-engine
    hash, and one map-side-combined pass at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    qx = F.col("l_quantity").cast("decimal(18,2)")
    px = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qx).cast("double").alias("sx"),
        F.sum(px).cast("double").alias("sy"),
        F.sum(qx * qx).cast("double").alias("sxx"),
        F.sum(px * px).cast("double").alias("syy"),
        F.sum(qx * px).cast("double").alias("sxy"),
    )
    mean = lambda c: F.col(c) / F.col("n")  # noqa: E731
    return s.select(
        "n",
        F.round(
            (F.col("sxy") / F.col("n") - mean("sx") * mean("sy"))
            / (
                F.sqrt(F.col("sxx") / F.col("n") - mean("sx") * mean("sx"))
                * F.sqrt(F.col("syy") / F.col("n") - mean("sy") * mean("sy"))
            ),
            9,
        ).alias("corr_qty_price"),
    )


# ------------------------------------------------------------- profiling

# Column profiling (round 10): the data-engineering staple a 100 TB
# ingest runs before anything else — per-column null counts, exact
# distinct cardinality, and min/max — in ONE scan. Numeric and string
# ranges travel in TYPED columns (min_num/max_num DOUBLE, min_str/
# max_str VARCHAR) so no float ever crosses the engine boundary as a
# rendered string (double->string formatting differs between engines;
# raw doubles hash exactly). Timestamps profile as epoch MICROSECONDS
# (the temporal_queries discipline). The multi-column count(DISTINCT)
# compiles to one EXPAND pass (row multiplier = #profiled columns) with
# map-side partial aggregation — one job, no per-column rescans; at
# cluster scale the expand factor is the declared cost of exact
# cardinalities (the approximate path is fn_hll_union_rollup).
_PROFILE_NUM = (
    ("l_orderkey", "l_orderkey"),
    ("l_quantity", "l_quantity"),
    ("l_extendedprice", "l_extendedprice"),
    ("l_shipdate_us", "epoch_us(l_shipdate)"),
)
_PROFILE_STR = ("l_returnflag", "l_linestatus")


def _profile_oracle() -> str:
    aggs = ["count(*) AS n_rows"]
    rows = []
    for c, duck_expr in _PROFILE_NUM:
        aggs += [
            f"count({duck_expr}) AS cnt_{c}",
            f"count(DISTINCT {duck_expr}) AS nd_{c}",
            f"CAST(min({duck_expr}) AS DOUBLE) AS mn_{c}",
            f"CAST(max({duck_expr}) AS DOUBLE) AS mx_{c}",
        ]
        rows.append(
            f"""SELECT '{c}' AS col_name, n_rows,
       n_rows - cnt_{c} AS n_null, nd_{c} AS n_distinct,
       mn_{c} AS min_num, mx_{c} AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM a"""
        )
    for c in _PROFILE_STR:
        aggs += [
            f"count({c}) AS cnt_{c}",
            f"count(DISTINCT {c}) AS nd_{c}",
            f"min({c}) AS mn_{c}",
            f"max({c}) AS mx_{c}",
        ]
        rows.append(
            f"""SELECT '{c}' AS col_name, n_rows,
       n_rows - cnt_{c} AS n_null, nd_{c} AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       mn_{c} AS min_str, mx_{c} AS max_str
FROM a"""
        )
    return (
        "WITH a AS (SELECT "
        + ", ".join(aggs)
        + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(rows)
    )


@query("rel_profile_columns", oracle=_profile_oracle())
def rel_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profiler over lineitem: per column its null count,
    exact distinct count, and typed min/max — long format, one row per
    profiled column. See the module-level note above _PROFILE_NUM for the
    EXPAND cost model and the typed-range hash discipline."""
    # l_shipdate arrives TIMESTAMP_NTZ; with the session tz pinned UTC the
    # NTZ->LTZ cast is an epoch identity (sources/tables.py:load_events).
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_shipdate_us", F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, _ in _PROFILE_NUM:
        aggs += [
            F.count(F.col(c)).alias(f"cnt_{c}"),
            F.countDistinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).cast("double").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"mx_{c}"),
        ]
    for c in _PROFILE_STR:
        aggs += [
            F.count(F.col(c)).alias(f"cnt_{c}"),
            F.countDistinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).alias(f"mn_{c}"),
            F.max(F.col(c)).alias(f"mx_{c}"),
        ]
    a = li.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_num"),
            F.col(f"mx_{c}").alias("max_num"),
            null_s.alias("min_str"),
            null_s.alias("max_str"),
        )
        for c, _ in _PROFILE_NUM
    ] + [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"cnt_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
            null_d.alias("min_num"),
            null_d.alias("max_num"),
            F.col(f"mn_{c}").alias("min_str"),
            F.col(f"mx_{c}").alias("max_str"),
        )
        for c in _PROFILE_STR
    ]
    return a.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


# ------------------------------------------------------------ EWMA(8)

# Truncated exponential moving average: newest-first halving weights
# 128,64,...,1 over an 8-row frame. The infinite-memory recursive EWMA
# is not cross-engine hashable (state accumulates rounding differently
# per engine); truncating at 8 taps makes it a FIXED expression tree —
# eight lag() terms combined left-to-right, so both engines execute the
# identical IEEE operation sequence and the raw doubles match bit for
# bit (the rel_win_running discipline, plus rounding for safety). At
# 2^-8 the dropped tail is below the 6-dp rounding grain whenever
# values are within ~3 orders of magnitude of each other.
_EWMA_TAPS = 8


def _ewma_weights() -> list[int]:
    return [1 << (_EWMA_TAPS - 1 - k) for k in range(_EWMA_TAPS)]


def _ewma_oracle() -> str:
    lags = ",\n       ".join(
        f"lag(value, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{k}"
        for k in range(_EWMA_TAPS)
    )
    ws = _ewma_weights()
    num = " + ".join(f"coalesce(l{k}, 0) * {ws[k]}" for k in range(_EWMA_TAPS))
    den = " + ".join(
        f"CASE WHEN l{k} IS NULL THEN 0 ELSE {ws[k]} END"
        for k in range(_EWMA_TAPS)
    )
    return f"""WITH lagged AS (
  SELECT event_id, user_id,
       {lags}
  FROM events)
SELECT event_id, user_id,
       CAST({den} AS BIGINT) AS weight_sum,
       CASE WHEN ({den}) = 0 THEN NULL
            ELSE round(({num}) / ({den}), 6) END AS ewma8
FROM lagged"""


@query("rel_win_ewma8", oracle=_ewma_oracle())
def rel_win_ewma8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user truncated EWMA over the event stream — the smoothing a
    monitoring/feature pipeline applies before thresholding. Eight lag()
    taps over ONE window (a single per-user sort serves all eight — no
    extra shuffle per tap), weighted 128..1 newest-first, partial heads
    renormalized by the present-tap weight sum. See the module note
    above _EWMA_TAPS for why truncation is what makes the recursive
    form exactly oracle-checkable."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = _ewma_weights()
    taps = [F.lag("value", k).over(w) for k in range(_EWMA_TAPS)]
    num = F.coalesce(taps[0], F.lit(0.0)) * F.lit(ws[0])
    den = F.when(taps[0].isNull(), 0).otherwise(ws[0])
    for k in range(1, _EWMA_TAPS):
        num = num + F.coalesce(taps[k], F.lit(0.0)) * F.lit(ws[k])
        den = den + F.when(taps[k].isNull(), 0).otherwise(ws[k])
    return e.select(
        "event_id",
        "user_id",
        den.cast("bigint").alias("weight_sum"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num / den, 6))
        .alias("ewma8"),
    )


# ------------------------------------------------------- entity resolution

ER_LEV_MAX = 2

_ER_SQL = f"""WITH src AS (
  SELECT c_custkey, c_name, CAST(10 + c_custkey % 9 AS INT) AS p
  FROM customer),
dirty AS (
  SELECT c_custkey AS dirty_id,
         substr(c_name, 1, p - 1) || substr(c_name, p + 1) AS dname
  FROM src),
blk AS (SELECT dirty_id, dname,
               right(dname, 2) AS bk FROM dirty),
cb AS (SELECT c_custkey, c_name,
              right(c_name, 2) AS bk FROM customer)
SELECT cb.c_custkey, blk.dirty_id,
       CAST(levenshtein(cb.c_name, blk.dname) AS BIGINT) AS lev
FROM cb JOIN blk ON cb.bk = blk.bk
WHERE levenshtein(cb.c_name, blk.dname) <= {ER_LEV_MAX}"""


@query("rel_er_fuzzy_join", oracle=_ER_SQL)
def rel_er_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocked fuzzy join: a dirty copy of the
    customer names (one digit deleted at a key-derived position) is
    matched back by Levenshtein distance <= ER_LEV_MAX INSIDE equal
    blocking-key groups (last two name characters) — the standard
    block-then-verify ER shape. The blocking join is an equi-join on the
    block key (shuffle-partitioned, Σ per-block² comparisons, NEVER the
    |L|x|R| cross product); missed matches whose deletion changed the
    block key are the DECLARED recall cost of blocking, mirrored in the
    oracle. Distance is an integer; no float anywhere. Near-key names
    (…001 vs …002) legitimately match within 2 edits — the ambiguity a
    real ER verify stage scores, kept in the output as lev."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.expr("substr(c_name, 1, (10 + c_custkey % 9) - 1)"),
            F.expr("substr(c_name, (10 + c_custkey % 9) + 1)"),
        ).alias("dname"),
    )
    # right(s, 2) is engine-agnostic for strings shorter than 2 chars
    # (both engines return the whole string); the substr(length-1, 2)
    # form diverged there — Spark clamps start 0 to 1, DuckDB clamps the
    # width.
    blk = dirty.withColumn("bk", F.expr("right(dname, 2)"))
    cb = cust.withColumn("bk", F.expr("right(c_name, 2)"))
    # threshold form: the JVM bails out of the DP as soon as the running
    # distance exceeds ER_LEV_MAX (returns -1) — each in-block comparison
    # is O(len * k) instead of O(len^2), the classic banded-Levenshtein
    # verify. Values within the bound are identical to the plain form,
    # so the oracle (DuckDB has no threshold arg) is unchanged.
    lev = F.levenshtein(F.col("c_name"), F.col("dname"), ER_LEV_MAX)
    return (
        cb.join(blk, "bk")
        .filter(lev >= 0)
        .select(
            "c_custkey",
            "dirty_id",
            lev.cast("bigint").alias("lev"),
        )
    )


# --------------------------------------------------------------- skyline

_SKYLINE_SQL = """WITH per_size AS (
  SELECT p_size, max(p_retailprice) AS mx
  FROM part GROUP BY p_size),
fr AS (
  SELECT p_size, mx,
         max(mx) OVER (ORDER BY p_size DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m1
  FROM per_size)
SELECT p.p_partkey, p.p_size, p.p_retailprice
FROM part p JOIN fr ON fr.p_size = p.p_size
WHERE p.p_retailprice = fr.mx
  AND (fr.m1 IS NULL OR fr.m1 < p.p_retailprice)"""


@query("rel_skyline_2d", oracle=_SKYLINE_SQL)
def rel_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline of parts (maximize size AND retail price): a
    part survives iff nothing is >= on both axes and > on one — the
    multi-criteria shortlist operator (BNL/D&C in the skyline papers).
    The 2-D case needs no pairwise work at all: reduce to the per-size
    price maxima (ONE map-side-combined agg to ~|distinct sizes| rows),
    take the running max over strictly larger sizes on that TINY table
    (window over 50 rows — distinct sizes, so a 1-PRECEDING row frame IS
    the strict-dominance frame), and broadcast the verdict back as a
    per-row filter. Dominance within a size = price < its size's max;
    dominance from larger sizes = price <= the running max. Scan-sized
    work, 50-row window, zero pairwise comparisons at any scale."""
    part = load_table(spark, sf_dir, "part")
    per_size = part.groupBy("p_size").agg(
        F.max("p_retailprice").alias("mx")
    )
    w = Window.orderBy(F.desc("p_size")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    fr = per_size.withColumn("m1", F.max("mx").over(w))
    return (
        part.join(F.broadcast(fr), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("mx"))
            & (F.col("m1").isNull() | (F.col("m1") < F.col("p_retailprice")))
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


# ------------------------------------------------------ association rules

AR_MIN_SUP = 50  # min co-occurrence count for a pair to be reported
AR_TOP_K = 20

_ASSOC_SQL = f"""WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS item
  FROM lineitem JOIN part ON p_partkey = l_partkey),
item_sup AS (
  SELECT item, count(*) AS sx FROM baskets GROUP BY item),
nb AS (SELECT count(DISTINCT ok) AS n FROM baskets),
pair_sup AS (
  SELECT a.item AS x, b.item AS y, count(*) AS sxy
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= {AR_MIN_SUP})
SELECT p.x, p.y, p.sxy, ix.sx AS sup_x, iy.sx AS sup_y,
       round(p.sxy / ix.sx, 6) AS conf_x_to_y,
       round((p.sxy * n) / (ix.sx * iy.sx), 6) AS lift
FROM pair_sup p
JOIN item_sup ix ON ix.item = p.x
JOIN item_sup iy ON iy.item = p.y, nb
ORDER BY lift DESC, p.x, p.y LIMIT {AR_TOP_K}"""


@query("rel_assoc_rules", oracle=_ASSOC_SQL)
def rel_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (items =
    part BRANDS via a broadcast dim join — part-level pairs never reach
    support at any driver scale; brand is the category grain real rule
    mining reports): top-20 pairs by LIFT (observed co-occurrence over independence), with
    support counts and X→Y confidence — the Apriori/FP-growth output
    shape for pair itemsets. The pair generator self-joins the DISTINCT
    (order, item) baskets on the order key, so fan-out is Σ per-basket
    |items|² — bounded by the basket size the source caps (TPC-H orders
    carry ≤ 7 lines; a retail pipeline would cap or sample whale
    baskets, the two_hop discipline). All supports are integers;
    confidence and lift are single divisions of integer products rounded
    to 6 dp (basket counts bound the products far under 2^63)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("item"))
        .distinct()
    )
    item_sup = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("sx"))
    nb = baskets.agg(F.countDistinct("ok").alias("n"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair_sup = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("x"), F.col("b.item").alias("y"))
        .agg(F.count(F.lit(1)).alias("sxy"))
        .filter(F.col("sxy") >= AR_MIN_SUP)
    )
    ix = item_sup.select(F.col("item").alias("x"), F.col("sx").alias("sup_x"))
    iy = item_sup.select(F.col("item").alias("y"), F.col("sx").alias("sup_y"))
    return (
        pair_sup.join(ix, "x")
        .join(iy, "y")
        .crossJoin(F.broadcast(nb))
        .select(
            "x",
            "y",
            "sxy",
            "sup_x",
            "sup_y",
            F.round(F.col("sxy") / F.col("sup_x"), 6).alias("conf_x_to_y"),
            F.round(
                (F.col("sxy") * F.col("n")) / (F.col("sup_x") * F.col("sup_y")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "x", "y")
        .limit(AR_TOP_K)
    )
