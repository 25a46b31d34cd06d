package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** The relational operator surface (SURVEY.md §2B): the reference delegates
  * all of this to downstream mediation; our engine provides it natively via
  * Spark SQL. Every query is Spark-first (declarative DataFrame plan →
  * Catalyst picks the physical strategy) with an equivalent DuckDB oracle.
  *
  * Scale posture (100 TB): filters/projections are plain Catalyst
  * expressions (pushed to the parquet scan); small dimensions are
  * broadcast; aggregations rely on partial (map-side) aggregation; windows
  * are always keyed by a partition column so no global sort is required
  * except where the query semantics demand one (global top-k uses
  * TakeOrderedAndProject, which never materializes a full sort).
  */
object RelationalQueries {

  /** Exact money arithmetic: cast to decimal BEFORE summing so the result
    * is order-independent, then one cast to double at the end. */
  private def dec(c: Column, p: Int = 18, s: Int = 2): Column =
    c.cast(DecimalType(p, s))

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // q01: TPC-H Q1 flavor — scan + filter + hash aggregate with partial
    // aggregation; the canonical "pricing summary" group-by.
    Q(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(5,4)) AS DECIMAL(6,4)) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - CAST(l_discount AS DECIMAL(5,4)) AS DECIMAL(6,4)) AS DECIMAL(24,6)) * CAST(1 + CAST(l_tax AS DECIMAL(5,4)) AS DECIMAL(6,4)) AS DECIMAL(30,10))), 4) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    ) { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      val discPrice = (dec(col("l_extendedprice")) *
        (lit(1) - dec(col("l_discount"), 5, 4)).cast(DecimalType(6, 4)))
        .cast(DecimalType(24, 6))
      val charge = (discPrice *
        (lit(1) + dec(col("l_tax"), 5, 4)).cast(DecimalType(6, 4)))
        .cast(DecimalType(30, 10))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          // round to scale 4 before the double cast: a scale-10 decimal sum
          // has an int128 mantissa past 2^53, where DuckDB's int128→double
          // conversion rounds differently than an exact decimal→double; at
          // scale 4 the mantissa fits in a double. round() (not a
          // scale-down cast) because DuckDB truncates on decimal casts
          // while both engines round half-away-from-zero in round().
          round(sum(charge), 4).cast("double").as("sum_charge"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---------------------------------------------------------------
    // q02: TPC-H Q6 flavor — pure scan-side filter (pushed to parquet) +
    // single global aggregate. At 100 TB the filter selectivity is what
    // matters; .explain shows PushedFilters on l_shipdate/l_discount/l_quantity.
    Q(
      "q02_forecast_revenue",
      """SELECT
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(9,4)) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.08
        |  AND l_quantity < 24""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.04, 0.08) &&
          col("l_quantity") < 24)
        .agg(
          sum((dec(col("l_extendedprice")) * dec(col("l_discount"), 9, 4))
            .cast(DecimalType(30, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // ---------------------------------------------------------------
    // q03: TPC-H Q3 flavor — 3-way join (customer broadcast; orders⋈lineitem
    // shuffles on the join key) + aggregate + top-k.
    Q(
      "q03_shipping_priority",
      """SELECT o.o_orderkey, o.o_orderdate,
        |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,4))) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o.o_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
      // customer is the smaller side at any SF ratio but SCALES with
      // SF — no forced broadcast (round-8 lint): stats/AQE broadcast
      // it while it fits and shuffle it at 100 TB, which a hard hint
      // would override into an OOM.
      o.join(c, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum((dec(col("l_extendedprice")) *
          (lit(1) - dec(col("l_discount"), 9, 4))).cast(DecimalType(30, 6)))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    },

    // ---------------------------------------------------------------
    // q04: semi-join (EXISTS) — orders with at least one lineitem shipped
    // >30 days after the order date, counted by priority.
    Q(
      "q04_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val l = Tables(s, dir, "lineitem")
      o.join(l,
          col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // ---------------------------------------------------------------
    // q05: TPC-H Q5 flavor — 6-way join through region; the two dimension
    // chains (region→nation→customer and region→nation→supplier) are
    // broadcast; fact-fact join shuffles once on orderkey.
    Q(
      "q05_local_supplier_volume",
      """SELECT n.n_name,
        |  CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(9,4))) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      val l = Tables(s, dir, "lineitem")
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      // nation/region are contract-bounded (25/5 rows) — forced
      // broadcast is safe at any scale. customer/supplier SCALE with
      // SF: no hint (round-8 lint), stats/AQE pick broadcast while
      // they fit and shuffle when they don't.
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(sup,
          col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((dec(col("l_extendedprice")) *
          (lit(1) - dec(col("l_discount"), 9, 4))).cast(DecimalType(30, 6)))
          .cast("double").as("revenue"))
        .orderBy(col("n_name"))
    },

    // ---------------------------------------------------------------
    // q06: anti-join (NOT EXISTS) — customers with no open ('O') orders.
    Q(
      "q06_customers_without_open_orders",
      """SELECT c_custkey, c_name
        |FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin
    ) { (s, dir) =>
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
      c.join(o, col("o_custkey") === col("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // ---------------------------------------------------------------
    // q07: ranking window — top-3 orders per customer by totalprice.
    // Keyed window (partitionBy custkey) so the sort is per-partition,
    // never global; scales linearly with data.
    Q(
      "q07_top_orders_per_customer",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin
    ) { (s, dir) =>
      // custom GroupTopK operator: k rows per (group, partition) reach
      // the exchange instead of every order of every customer
      graft.plans.GroupTopK.topKRanked(
          Tables(s, dir, "orders")
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          Seq(col("o_custkey")), 3, "rn",
          col("o_totalprice").desc, col("o_orderkey").asc)
        .orderBy(col("o_custkey"), col("rn"))
    },

    // ---------------------------------------------------------------
    // q08: analytic window — per-customer running order-value sum plus
    // lag/lead. Decimal running sum keeps the frame aggregation exact
    // (DuckDB's segment-tree evaluation and Spark's buffer walk would
    // diverge on raw doubles).
    Q(
      "q08_running_order_value",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_order,
        |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_order
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin
    ) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"))
        .withColumn("running_value",
          sum(dec(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .withColumn("prev_order", lag(col("o_orderkey"), 1).over(w))
        .withColumn("next_order", lead(col("o_orderkey"), 1).over(w))
        .drop("o_totalprice", "o_orderdate")
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // ---------------------------------------------------------------
    // q09: global top-k — Spark plans TakeOrderedAndProject (per-partition
    // heap + driver merge of k rows), never a full global sort.
    Q(
      "q09_top100_lineitems",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(100)
    },

    // ---------------------------------------------------------------
    // q10: exact distinct aggregation (expand + two-phase agg in Spark).
    Q(
      "q10_distinct_parts_suppliers",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // ---------------------------------------------------------------
    // q11: ROLLUP — multi-level aggregate in one pass; COALESCE pins the
    // subtotal rows' labels so null-ordering differences can't bite.
    Q(
      "q11_rollup_returns",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    },

    // ---------------------------------------------------------------
    // q12: CUBE over customer segment × nation.
    Q(
      "q12_cube_segments",
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |  coalesce(c_nationkey, -1) AS nationkey,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |GROUP BY CUBE (c_mktsegment, c_nationkey)
        |ORDER BY segment, nationkey""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "customer")
        .cube(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_acctbal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("c_nationkey"), lit(-1)).as("nationkey"),
          col("n_customers"), col("sum_acctbal"))
        .orderBy(col("segment"), col("nationkey"))
    },

    // ---------------------------------------------------------------
    // q13: set operations — nations having customers vs suppliers.
    Q(
      "q13_setops_nations",
      """SELECT 'both' AS which, k FROM
        |  (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) t
        |UNION ALL
        |SELECT 'customer_only' AS which, k FROM
        |  (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) t
        |ORDER BY which, k""".stripMargin
    ) { (s, dir) =>
      val cn = Tables(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sn = Tables(s, dir, "supplier").select(col("s_nationkey").as("k"))
      val both = cn.intersect(sn).withColumn("which", lit("both"))
      val only = cn.except(sn).withColumn("which", lit("customer_only"))
      both.unionByName(only)
        .select(col("which"), col("k"))
        .orderBy(col("which"), col("k"))
    },

    // ---------------------------------------------------------------
    // q14: scalar function surface — string/date/math built-ins, one row
    // per part (keys < 100). Everything stays in whole-stage codegen.
    Q(
      "q14_scalar_functions",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_upper,
        |  substr(p_name, 1, 8) AS name_prefix,
        |  length(p_name) AS name_len,
        |  concat(p_type, '/', p_brand) AS type_brand,
        |  replace(p_brand, 'Brand#', 'B') AS brand_short,
        |  abs(p_size - 25) AS size_dist,
        |  mod(p_partkey, 7) AS key_mod,
        |  CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * 110, 0) AS BIGINT) AS price_cents_110pct,
        |  md5(p_name) AS name_md5
        |FROM part
        |WHERE p_partkey < 100
        |ORDER BY p_partkey""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "part")
        .filter(col("p_partkey") < 100)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_upper"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          concat(col("p_type"), lit("/"), col("p_brand")).as("type_brand"),
          regexp_replace(col("p_brand"), lit("Brand#"), lit("B")).as("brand_short"),
          abs(col("p_size") - 25).as("size_dist"),
          pmod(col("p_partkey"), lit(7)).as("key_mod"),
          round(dec(col("p_retailprice")) * 110, 0).cast("bigint")
            .as("price_cents_110pct"),
          md5(col("p_name")).as("name_md5"))
        .orderBy(col("p_partkey"))
    },

    // ---------------------------------------------------------------
    // q15: date/time function surface over orders.
    Q(
      "q15_date_functions",
      """SELECT year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("order_year"),
          month(col("o_orderdate")).cast("long").as("order_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).cast("double").as("total_value"))
        .orderBy(col("order_year"), col("order_month"))
    },

    // ---------------------------------------------------------------
    // q16: HAVING over a scalar subquery — big customers: order-value sum
    // above 2× the global per-customer mean. Both sides computed through
    // identical decimal→double paths, so the > comparison is deterministic.
    Q(
      "q16_big_customers",
      """SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS customer_value
        |FROM orders
        |GROUP BY o_custkey
        |HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) >
        |  2 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / count(DISTINCT o_custkey) FROM orders)
        |ORDER BY o_custkey""".stripMargin
    ) { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val perCust = o.groupBy(col("o_custkey"))
        .agg(sum(dec(col("o_totalprice"))).cast("double").as("customer_value"))
      val mean = o.agg((sum(dec(col("o_totalprice"))).cast("double") /
        countDistinct(col("o_custkey"))).as("m"))
      perCust.join(broadcast(mean))   // scalar broadcast, no shuffle
        .filter(col("customer_value") > lit(2) * col("m"))
        .select(col("o_custkey"), col("customer_value"))
        .orderBy(col("o_custkey"))
    },

    // ---------------------------------------------------------------
    // q17: pivot — conditional aggregation of event values per user bucket.
    Q(
      "q17_pivot_event_values",
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy((col("user_id") % 10).cast("bigint").as("user_bucket"))
        .agg(
          count(when(col("event_type") === "click", 1)).as("click_n"),
          count(when(col("event_type") === "view", 1)).as("view_n"),
          count(when(col("event_type") === "purchase", 1)).as("purchase_n"),
          sum(when(col("event_type") === "purchase", dec(col("value")))
            .otherwise(lit(0).cast(DecimalType(18, 2))))
            .cast("double").as("purchase_value"))
        .orderBy(col("user_bucket"))
    },

    // ---------------------------------------------------------------
    // q18: as-of join — each event joined to the user's most recent
    // purchase at-or-before the event time. Spark lacks ASOF JOIN; the
    // scalable pattern is union the two streams, sort per key by time,
    // and carry the last purchase forward with last_value(ignoreNulls) —
    // one shuffle on user_id, no n² join. DuckDB oracle uses its native
    // ASOF JOIN.
    Q(
      "q18_asof_last_purchase",
      """SELECT e.event_id, e.user_id, p.event_id AS last_purchase_id
        |FROM events e
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin
    ) { (s, dir) =>
      val ev = Tables(s, dir, "events")
      // tag purchases; union with all events; per user, last purchase id
      // at-or-before each row's ts. `side` orders the purchase row before
      // the probe row at identical ts (ASOF's >= semantics: a purchase at
      // exactly the event ts matches itself).
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_id"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"))
      val probes = ev.select(col("user_id"), col("ts"),
        lit(null).cast("long").as("p_id"), lit(1).as("side"),
        col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("side").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      purchases.unionByName(probes)
        .withColumn("last_purchase_id",
          last(col("p_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), col("last_purchase_id"))
        .orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // q19: range (non-equi band) join — part pairs within the same brand
    // whose sizes differ by at most 1. Equi-key on brand keeps it a hash
    // join with a residual band predicate (not a cartesian product) — the
    // pattern that survives scale-up.
    Q(
      "q19_range_join_part_sizes",
      """SELECT a.p_brand AS brand, count(*) AS n_pairs
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand
        | AND b.p_size BETWEEN a.p_size - 1 AND a.p_size + 1
        | AND a.p_partkey < b.p_partkey
        |GROUP BY a.p_brand
        |ORDER BY a.p_brand""".stripMargin
    ) { (s, dir) =>
      val a = Tables(s, dir, "part").select(
        col("p_partkey").as("a_key"), col("p_brand").as("brand"),
        col("p_size").as("a_size"))
      val b = Tables(s, dir, "part").select(
        col("p_partkey").as("b_key"), col("p_brand").as("b_brand"),
        col("p_size").as("b_size"))
      a.join(b,
          col("brand") === col("b_brand") &&
          col("b_size").between(col("a_size") - 1, col("a_size") + 1) &&
          col("a_key") < col("b_key"))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("brand"))
    },

    // ---------------------------------------------------------------
    // q20: correlated scalar subquery — parts priced above their type's
    // average retail price (decorrelates to an aggregate + broadcast join).
    Q(
      "q20_above_type_average",
      """SELECT p_partkey, p_type
        |FROM part p
        |WHERE CAST(p_retailprice AS DECIMAL(18,2)) >
        |  (SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |   FROM part p2 WHERE p2.p_type = p.p_type) * 1.03
        |ORDER BY p_partkey""".stripMargin
    ) { (s, dir) =>
      val p = Tables(s, dir, "part")
      val typeAvg = p.groupBy(col("p_type").as("t"))
        .agg((sum(dec(col("p_retailprice"))).cast("double") / count(lit(1)))
          .as("avg_price"))
      p.join(broadcast(typeAvg), col("p_type") === col("t"))
        .filter(dec(col("p_retailprice")) > col("avg_price") * 1.03)
        .select(col("p_partkey"), col("p_type"))
        .orderBy(col("p_partkey"))
    },

    // ---------------------------------------------------------------
    // q21: GROUPING SETS through the SQL surface (one-pass multi-level
    // aggregate, same Expand-based plan as rollup/cube).
    Q(
      "q21_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |  coalesce(l_linestatus, 'ALL') AS ls,
          |  count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
    },

    // ---------------------------------------------------------------
    // q22: typed Aggregator UDAF (the §2B UDAF surface) — exact decimal
    // weighted average: sum(price·qty)/sum(qty), both sums exact, one
    // deterministic double division at the end.
    Q(
      "q22_weighted_avg_udaf",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    ) { (s, dir) =>
      val wavg = udaf(WeightedAvgAggregator,
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.DECIMAL,
          org.apache.spark.sql.Encoders.DECIMAL))
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(wavg(dec(col("l_extendedprice")), dec(col("l_quantity")))
          .as("wavg_price"))
        .orderBy(col("l_returnflag"))
    }
  )
}

/** §2B UDAF surface: a typed Aggregator — partial aggregation (reduce)
  * map-side, merge on the reducer, exact BigDecimal arithmetic so the
  * result is order-independent. */
object WeightedAvgAggregator extends org.apache.spark.sql.expressions.Aggregator[
    (java.math.BigDecimal, java.math.BigDecimal),
    (java.math.BigDecimal, java.math.BigDecimal), Double] {
  private val Z = java.math.BigDecimal.ZERO
  override def zero: (java.math.BigDecimal, java.math.BigDecimal) = (Z, Z)
  override def reduce(b: (java.math.BigDecimal, java.math.BigDecimal),
      a: (java.math.BigDecimal, java.math.BigDecimal)): (java.math.BigDecimal, java.math.BigDecimal) =
    (b._1.add(a._1.multiply(a._2)), b._2.add(a._2))
  override def merge(x: (java.math.BigDecimal, java.math.BigDecimal),
      y: (java.math.BigDecimal, java.math.BigDecimal)): (java.math.BigDecimal, java.math.BigDecimal) =
    (x._1.add(y._1), x._2.add(y._2))
  override def finish(b: (java.math.BigDecimal, java.math.BigDecimal)): Double =
    b._1.doubleValue() / b._2.doubleValue()
  override def bufferEncoder: org.apache.spark.sql.Encoder[(java.math.BigDecimal, java.math.BigDecimal)] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.DECIMAL, org.apache.spark.sql.Encoders.DECIMAL)
  override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
    org.apache.spark.sql.Encoders.scalaDouble
}
