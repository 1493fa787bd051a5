package graft.relational

import graft.{NamedQuery, Tables}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator coverage over the driver's TPC-H-ish tables
  * (TESTDATA.md): scan+pushdown, partial aggregation, broadcast /
  * shuffle / semi / anti joins, windows, top-k, set ops, scalar
  * functions, JSON-ish extraction, sessionization.
  *
  * Scale notes are per-query; the common rules: dimensions broadcast,
  * facts shuffle on their join keys once, aggregates are partial
  * (map-side combine) by construction, filters/projections sit against
  * the parquet scan so pushdown + column pruning apply.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // Exact, order-independent money sum: decimal-cast each addend.
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(s"decimal(14,$scale)"))

  /** CMS geometry shared by the q36 operator and its oracle SQL.
    * Declared BEFORE `all`: the oracle string interpolates these at
    * object init, so a later declaration would read 0.
    */
  private final val CmsD = 4
  private final val CmsW = 512

  val all: Seq[NamedQuery] = Seq(

    // -- q1: TPC-H Q1 shape — full-scan partial aggregation ---------------
    NamedQuery(
      "q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(14,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        |  ROUND(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).cast("decimal(18,2)").cast("double").as("sum_qty"),
          dsum(col("l_extendedprice")).cast("decimal(18,2)").cast("double").as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .cast("decimal(18,4)").cast("double").as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // -- q2: filter + projection pushdown ---------------------------------
    NamedQuery(
      "q2_filter_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
        |  AND l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-02-01").cast("timestamp") &&
          col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // -- q3: TPC-H Q3 shape — fact-fact shuffle join + broadcast dim ------
    NamedQuery(
      "q3_top_orders",
      """SELECT o_orderkey AS orderkey,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(14,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority AS priority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord  = t(s, dir, "orders").filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      val li   = t(s, dir, "lineitem")
      // customer is the small side at any SF (filtered dim) → broadcast;
      // orders⋈lineitem shuffles once on orderkey.
      ord.join(broadcast(cust), col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey").as("orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority").as("priority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .cast("decimal(18,4)").cast("double").as("revenue"))
        .select("orderkey", "revenue", "orderdate", "priority")
        .orderBy(col("revenue").desc, col("orderkey")).limit(10)
    },

    // -- q4: EXISTS → left-semi join --------------------------------------
    NamedQuery(
      "q4_semi_join",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      ord.join(li, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // -- q5: NOT EXISTS → left-anti join ----------------------------------
    NamedQuery(
      "q5_anti_join",
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1996-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(
          t(s, dir, "orders").filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },

    // -- q6: star join over broadcast dims --------------------------------
    NamedQuery(
      "q6_star_join",
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).cast("decimal(18,2)").cast("double").as("total_bal"))
        .orderBy("r_name", "n_name")
    },

    // -- q7: window function — top-N per group ----------------------------
    NamedQuery(
      "q7_window_topn",
      """SELECT custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey AS custkey, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) q
        |WHERE rn <= 2 ORDER BY custkey, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 2)
        .orderBy("custkey", "rn")
    },

    // -- q8: global top-k (sort + limit ≡ TakeOrderedAndProject) ----------
    NamedQuery(
      "q8_topk",
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 15""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy(col("p_retailprice").desc, col("p_partkey")).limit(15)
    },

    // -- q9: INTERSECT ----------------------------------------------------
    NamedQuery(
      "q9_intersect",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
        |INTERSECT SELECT o_custkey FROM orders
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // -- q10: EXCEPT ------------------------------------------------------
    NamedQuery(
      "q10_except",
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 5000
        |EXCEPT SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").filter(col("c_acctbal") < 5000)
        .select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // -- q11: scalar function surface -------------------------------------
    NamedQuery(
      "q11_scalar_fns",
      """SELECT o_orderkey,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |  year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |  length(o_orderstatus) AS status_len,
        |  CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END AS size_class,
        |  floor(o_totalprice / 10) / 100 AS price_k
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
        .select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
          year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
          length(col("o_orderstatus")).as("status_len"),
          when(col("o_totalprice") > 200000, "big").otherwise("small").as("size_class"),
          // floor-scaling, not ROUND: both engines floor the same binary
          // double; ROUND diverges when the shortest decimal repr sits on a
          // half boundary (Spark rounds the string, DuckDB the binary).
          (floor(col("o_totalprice") / 10) / 100).as("price_k"))
        .orderBy("o_orderkey")
    },

    // -- q15: fact ⋈ dim ⋈ dim rollup through supplier ---------------------
    NamedQuery(
      "q15_supplier_revenue",
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(14,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .cast("decimal(18,4)").cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },

    // -- q16: HAVING (post-aggregation filter) -----------------------------
    NamedQuery(
      "q16_having",
      """SELECT o_custkey AS custkey, count(*) AS n_orders
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15)
        .orderBy("custkey")
    },

    // -- q17: TPC-H Q17 shape — agg-join correlated predicate -------------
    NamedQuery(
      "q17_small_quantity_revenue",
      """WITH pa AS (SELECT l_partkey AS pk, avg(l_quantity) AS aq FROM lineitem GROUP BY 1)
        |SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value,
        |  count(*) AS n_items
        |FROM lineitem JOIN pa ON l_partkey = pk
        |WHERE l_quantity < 0.5 * aq""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val pa = li.groupBy(col("l_partkey").as("pk")).agg(avg(col("l_quantity")).as("aq"))
      li.join(pa, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.5) * col("aq"))
        .agg(
          dsum(col("l_extendedprice")).cast("decimal(18,2)").cast("double").as("total_value"),
          count(lit(1)).as("n_items"))
    },

    // -- q18: exact distinct aggregation ----------------------------------
    NamedQuery(
      "q18_distinct_parts",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")
    },

    // -- q19: ROLLUP subtotals (beyond-reference relational surface) ------
    NamedQuery(
      "q19_rollup",
      """SELECT coalesce(r_name, '(all)') AS region, coalesce(n_name, '(all)') AS nation,
        |  count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY region, nation""".stripMargin) { (s, dir) =>
      val joined = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("rn"), col("n_name").as("nn"))
      // SQL text path (the engine's spark.sql surface): DataFrame
      // .rollup + a later col("rn") reference trips Spark 4's ambiguous
      // self-join detection (grouping cols appear twice in the Expand).
      joined.createOrReplaceTempView("cust_geo")
      s.sql(
        """SELECT coalesce(rn, '(all)') AS region, coalesce(nn, '(all)') AS nation,
          |  count(*) AS n
          |FROM cust_geo GROUP BY ROLLUP(rn, nn) ORDER BY region, nation""".stripMargin)
    },

    // -- q20: per-user activity span (exact integer-ns arithmetic) --------
    NamedQuery(
      "q20_user_span",
      """SELECT user_id, count(*) AS n_events,
        |  (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 1000000000 AS span_seconds
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          floor((max(col("ts_nanos")) - min(col("ts_nanos"))) / 1000000000L)
            .cast("bigint").as("span_seconds"))
        .orderBy("user_id")
    },

    // -- q12: event-time bucketing (batch shape of a streaming window) ----
    NamedQuery(
      "q12_events_hourly",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).cast("decimal(18,2)").cast("double").as("total_value"))
        .orderBy("hour", "event_type")
    },

    // -- q13: JSON-ish extraction from props ------------------------------
    NamedQuery(
      "q13_events_props",
      """SELECT CAST(regexp_extract(props, '"k": (\d+)', 1) AS INTEGER) AS k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k")
    },

    // -- q14: sessionization via gap windows (exact integer-ns arithmetic)
    NamedQuery(
      "q14_sessionize",
      """WITH gaps AS (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
        |           OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w > 1800000000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM gaps GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_nanos"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"),
          when(lag(col("ts_nanos"), 1).over(w).isNull ||
            col("ts_nanos") - lag(col("ts_nanos"), 1).over(w) > 1800000000000L, 1)
            .otherwise(0).as("new_session"))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // -- q21: TPC-H Q21 shape — correlated EXISTS + NOT EXISTS on the same
    // fact table, via the spark.sql entry path (Catalyst decorrelates
    // both subqueries into semi/anti joins on l_orderkey; the fact table
    // shuffles once per correlation key, suppliers broadcast).
    NamedQuery(
      "q21_sole_returner",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin) { (s, dir) =>
      // r12: a per-orderkey-aggregate rewrite of the two correlated
      // subqueries (EXISTS ⟺ n_supp > 1, NOT EXISTS ⟺ n_rsupp = 1 over
      // distinct (orderkey, suppkey)) was implemented, proven
      // result-identical on the gate, and REVERTED: interleaved A/B and
      // three full bench runs measured the replacement's full-fact keyed
      // aggregation costlier than this form's broadcast semi/anti pair
      // at bench scale (~2.2 s vs ~1.0 s official), while at fact scale
      // the planner already degrades these joins to shuffle joins on its
      // own once lineitem passes the broadcast threshold — the rewrite
      // bought one fewer fact shuffle at 100 TB for a measured local
      // regression. OPTIMIZATION_r12.md §3 records the experiment.
      Seq("supplier", "lineitem", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders ON o_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin)
    },

    // -- q22: TPC-H Q22 shape — uncorrelated scalar-subquery threshold +
    // correlated scalar COUNT subquery (decorrelated to an aggregate
    // join by Catalyst; the corpus has no order-less customers, so the
    // classic NOT EXISTS form would be vacuous here).
    // The threshold is sum(DECIMAL)/count cast through DOUBLE on BOTH
    // engines: the decimal sum is order-independent-exact, so the
    // boundary is bit-identical (a bare avg(double) would not be).
    NamedQuery(
      "q22_idle_rich_customers",
      """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
        |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
        |                        / count(*) AS DOUBLE)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) < 3
        |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin) { (s, dir) =>
      Seq("customer", "orders").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(
        """SELECT c_nationkey AS cntrycode, count(*) AS numcust,
          |  CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
          |FROM customer
          |WHERE c_acctbal > (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
          |                        / count(*) AS DOUBLE)
          |                   FROM customer WHERE c_acctbal > 0)
          |  AND (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) < 3
          |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin)
    },

    // -- q23: explicit window FRAME (ROWS BETWEEN) — cumulative running
    // total per partition, the frame-spec variant of §2.5 the row_number/
    // lag/rollup queries don't exercise. Decimal-summed per frame then
    // cast, so the running values are order-independent-exact.
    NamedQuery(
      "q23_running_total",
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE)
        |    AS running_total
        |FROM orders ORDER BY custkey, orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
          sum(col("o_totalprice").cast("decimal(14,2)")).over(w)
            .cast("decimal(18,2)").cast("double").as("running_total"))
        .orderBy("custkey", "orderkey")
    },

    // -- q24: AS-OF join — for each 'click' event, the most recent
    // 'purchase' by the same user at or before the click's timestamp.
    // Spark has no ASOF JOIN operator; the scale-correct composition is
    // union-tag + one window pass: both sides shuffle ONCE on user_id,
    // the window's last(_, ignoreNulls) carries the latest preceding
    // purchase forward, and no row ever joins more than one partner —
    // unlike a range join, which explodes to |clicks|x|purchases| per
    // user before picking the max. Ordering (ts, side, event_id) with
    // purchase<click at equal keys makes the tie-break total and
    // deterministic: eligible = purchase.ts <= click.ts, winner = max
    // (ts, event_id). The oracle states the same semantics independently
    // as a correlated LATERAL top-1 — not a restatement of the window
    // trick. lag_seconds stays in exact integer nanos (`div`, never
    // double division — q20's lesson). A click with no preceding
    // purchase reports the explicit -1 sentinel, not NULL: the compare
    // harness reads both results through pandas, where NULL bigints
    // degrade to float NaN and NaN != NaN fails rows that agree.
    NamedQuery(
      "q24_asof_join",
      """SELECT l.event_id, l.user_id,
        |  coalesce(p.event_id, -1) AS last_purchase_id,
        |  coalesce(p.value, -1.0) AS last_purchase_value,
        |  coalesce((epoch_ns(l.ts) - epoch_ns(p.ts)) // 1000000000, -1) AS lag_seconds
        |FROM events l
        |LEFT JOIN LATERAL (
        |  SELECT r.event_id, r.value, r.ts FROM events r
        |  WHERE r.user_id = l.user_id AND r.event_type = 'purchase'
        |    AND r.ts <= l.ts
        |  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) p ON TRUE
        |WHERE l.event_type = 'click'
        |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_nanos"), col("event_id"),
          lit(1).as("side"),
          lit(null).cast("double").as("p_value"),
          lit(null).cast("bigint").as("p_id"),
          lit(null).cast("bigint").as("p_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_nanos"), col("event_id"),
          lit(0).as("side"),
          col("value").as("p_value"),
          col("event_id").as("p_id"),
          col("ts_nanos").as("p_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_nanos"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .select(col("event_id"), col("user_id"), col("ts_nanos"), col("side"),
          last(col("p_value"), ignoreNulls = true).over(w).as("last_purchase_value"),
          last(col("p_id"), ignoreNulls = true).over(w).as("last_purchase_id"),
          last(col("p_ts"), ignoreNulls = true).over(w).as("last_purchase_ts"))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"),
          coalesce(col("last_purchase_id"), lit(-1L)).as("last_purchase_id"),
          coalesce(col("last_purchase_value"), lit(-1.0)).as("last_purchase_value"),
          coalesce(expr("(ts_nanos - last_purchase_ts) div 1000000000"), lit(-1L))
            .as("lag_seconds"))
        .orderBy("event_id")
    },

    // -- q26: EXACT per-group quantiles — rank-defined (value at
    // ascending rank ceil(p·n/1000) within the group), the same pure
    // integer rank predicate as cu_quality_gate (1000·rn >= p·n; no
    // float ceil). The quantile VALUES pass through untouched — no
    // arithmetic ever touches them, so the cell-exact compare is safe
    // on raw doubles. Scale shape: one window partitioned by the
    // natural group key (per-group sorts run in parallel across
    // groups); a pathologically hot group is the standard per-key
    // window hazard — the fix at 100 TB is a two-pass histogram like
    // cu_quality_gate's if values can be bucketized, or a sampled
    // sketch if not.
    NamedQuery(
      "q26_quantiles",
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, max(n) AS n,
        |  min(CASE WHEN rn*1000 >= n*500 THEN value END) AS p50,
        |  min(CASE WHEN rn*1000 >= n*950 THEN value END) AS p95
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w  = Window.partitionBy("event_type").orderBy("value", "event_id")
      val wn = Window.partitionBy("event_type")
      Tables.events(s, dir)
        // explicit NULL exclusion on BOTH sides: Spark windows order
        // NULLS FIRST, DuckDB row_number NULLS LAST — a NULL value
        // would shift every rank differently in the two engines (the
        // cu_quality_gate review lesson, applied preemptively)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"),
          row_number().over(w).as("rn"), count(lit(1)).over(wn).as("n"))
        .groupBy("event_type")
        .agg(max("n").as("n"),
          min(when(col("rn") * 1000 >= col("n") * 500, col("value"))).as("p50"),
          min(when(col("rn") * 1000 >= col("n") * 950, col("value"))).as("p95"))
        .orderBy("event_type")
    },

    // -- q25: interval (range) join with NO equi-key — for each 'error'
    // event, the count and value of ALL users' 'click' events in the 30
    // minutes before it. The naive plan is a cartesian product with a
    // range filter (|errors|x|clicks| compares); the scale plan buckets
    // time into window-width cells so each error probes exactly two
    // cells (its own and the previous — a half-open 30-min lookback
    // spans at most two 30-min buckets) and the join becomes an
    // equi-join on the bucket key, shuffling each side once. The exact
    // range predicate then prunes the bucket candidates. The oracle
    // states the semantics as the direct inequality join.
    NamedQuery(
      "q25_range_join",
      """SELECT e.event_id,
        |  count(c.event_id) AS n_clicks,
        |  CAST(coalesce(CAST(sum(CAST(c.value AS DECIMAL(14,2))) AS DECIMAL(18,2)), 0) AS DOUBLE)
        |    AS clicks_value
        |FROM events e LEFT JOIN events c
        |  ON c.event_type = 'click'
        |  AND epoch_ns(c.ts) >= epoch_ns(e.ts) - 1800000000000
        |  AND epoch_ns(c.ts) < epoch_ns(e.ts)
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val W = 1800000000000L // 30 min in nanos == bucket width
      // FLOOR division, not `div` (which truncates toward zero): a
      // pre-1970 ts_nanos would otherwise land one bucket high and its
      // matches would be silently dropped vs the oracle's direct range
      // predicate. pmod is non-negative, so (ts - pmod(ts, W)) is the
      // floor multiple and the div is exact.
      val bucketOf = expr(s"(ts_nanos - pmod(ts_nanos, ${W}L)) div ${W}L")
      val ev = Tables.events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts_nanos"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("ts_nanos").as("c_ts"), col("value"),
          bucketOf.as("bucket"))
      val probed = errors
        .select(col("event_id"), col("ts_nanos"),
          explode(array(bucketOf - 1, bucketOf)).as("bucket"))
      val matched = probed.join(clicks, "bucket")
        .filter(col("c_ts") >= col("ts_nanos") - W && col("c_ts") < col("ts_nanos"))
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_clicks"),
          dsum(col("value")).as("v"))
      errors.join(matched, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("v"), lit(0).cast("decimal(18,2)"))
            .cast("double").as("clicks_value"))
        .orderBy("event_id")
    },

    // -- q27: CUBE — ALL grouping-set combinations in one pass ------------
    // Complements q19_rollup (hierarchy subtotals, SQL-text path): cube
    // emits every subset (2ᵏ sets, incl. the gid=2 level rollup never
    // produces) on the DataFrame API path, and grouping_id()
    // disambiguates a NULL data value from an aggregated-out level —
    // both engines encode it with the leftmost group column as the high
    // bit. Spark plans this as Expand (4 grouping-set replicas of each
    // row) feeding ONE partial-aggregable hash agg — a single shuffle
    // for all levels; the expansion factor is the set count, never the
    // data size.
    NamedQuery(
      "q27_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, returnflag, linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"),
          dsum(col("l_quantity")).cast("decimal(18,2)").cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("gid"), col("sum_qty"), col("n"))
        .orderBy("gid", "returnflag", "linestatus")
    },

    // -- q28: PIVOT — long-to-wide reshaping ------------------------------
    // The pivot VALUES are passed explicitly: without them Spark runs an
    // extra distinct job over the pivot column to discover headers — a
    // full-corpus pass a 100 TB pipeline should never pay for a reshape
    // whose schema the caller already knows. With explicit values this
    // is exactly one shuffled aggregation (map-side partial per group).
    NamedQuery(
      "q28_pivot",
      """SELECT l_returnflag AS returnflag,
        |  CAST(coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) FILTER (WHERE l_linestatus = 'F') AS DECIMAL(18,2)), 0) AS DOUBLE) AS qty_f,
        |  CAST(coalesce(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) FILTER (WHERE l_linestatus = 'O') AS DECIMAL(18,2)), 0) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")).cast("decimal(18,2)").cast("double"))
        .select(col("returnflag"),
          coalesce(col("F"), lit(0.0)).as("qty_f"),
          coalesce(col("O"), lit(0.0)).as("qty_o"))
        .orderBy("returnflag")
    },

    // -- q29: running DISTINCT count over a window ------------------------
    // Spark has no count(DISTINCT) window function; the idiomatic
    // composition is size(collect_set() OVER w) — running distinct state
    // per partition, one shuffle on user_id, no self-join. The frame is
    // RANGE unbounded→current (peers included), so same-timestamp rows
    // agree on the count and ordering ties can't diverge. The oracle
    // derives it independently: mark each (user, type)'s first
    // occurrence, running-sum the markers over the same RANGE frame.
    // Memory posture: the running set holds DISTINCT event types — a
    // bounded enum — not events; for unbounded-cardinality columns use
    // the sketch path instead.
    NamedQuery(
      "q29_distinct_window",
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn, event_type FROM events),
        | m AS (SELECT event_id, user_id, tsn,
        |   CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |                                ORDER BY tsn, event_id) = 1
        |        THEN 1 ELSE 0 END AS first_occ
        |  FROM e)
        |SELECT event_id, user_id,
        |  CAST(sum(first_occ) OVER (PARTITION BY user_id ORDER BY tsn
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types
        |FROM m ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts_nanos")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          size(collect_set(col("event_type")).over(w)).cast("long").as("n_types"))
        .orderBy("event_id")
    },

    // -- q30: PERCENTILE_CONT — interpolated per-group quantiles ----------
    // The CONT companion to q26's DISC form: value at 0-based position
    // p·(n−1)/1000, linearly interpolated between the two bracketing
    // ranks. Neither engine's built-in is trusted across engines —
    // instead BOTH sides derive lo/frac in pure integer math (permille,
    // memory-hazard rule: no float ceil/rank arithmetic) and evaluate
    // the ONE lerp `v_lo + (v_hi − v_lo)·frac/1000` in the same
    // operation order, so the doubles are bit-identical.
    //
    // Plan shape (the "histogram escape hatch" q26 documents, made the
    // primary plan): ranking a whole group under one window task holds
    // the group's entire slice in one partition — ~20 M rows per task
    // at 100× — to pick ≤2 rows of it. Instead: (1) one map-side-
    // combined histogram over fixed-width value buckets (floor(v/W) is
    // monotone, so bucket order IS value order; W derived from a
    // min/max pre-pass capping the bucket count), with cumulative
    // counts over the HISTOGRAM (≤ |G|·4096 rows, not the fact table);
    // (2) locate the ≤2 bracketing ranks' buckets per (group, p);
    // (3) rank ONLY those buckets' rows (global rank = bucket's
    // cumulative predecessor count + within-bucket row_number — exact
    // because every value in an earlier bucket is ≤ every value here).
    // The only windows are over the histogram and over ~n/buckets-row
    // bucket slices; the fact table is never globally sorted. The two
    // order statistics this selects are EXACTLY the full sort's, so the
    // lerp — and the oracle hash — are unchanged.
    NamedQuery(
      "q30_quantile_cont",
      """WITH ps AS (SELECT unnest([250, 500, 750]) AS p),
        | b AS (SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem),
        | r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |              count(*) OVER (PARTITION BY g) AS n FROM b),
        | m AS (SELECT r.g, ps.p, r.v, r.rn,
        |              (ps.p * (r.n - 1)) // 1000 + 1 AS lo,
        |              (ps.p * (r.n - 1)) % 1000 AS frac
        |       FROM r CROSS JOIN ps
        |       WHERE r.rn = (ps.p * (r.n - 1)) // 1000 + 1
        |          OR r.rn = (ps.p * (r.n - 1)) // 1000 + 2),
        | a AS (SELECT g, p,
        |         min(CASE WHEN rn = lo THEN v END) AS v_lo,
        |         min(CASE WHEN rn = lo + 1 THEN v END) AS v_hi,
        |         min(frac) AS frac
        |       FROM m GROUP BY g, p)
        |SELECT g AS returnflag, CAST(p AS BIGINT) AS p,
        |  ROUND(v_lo + (coalesce(v_hi, v_lo) - v_lo) * frac / 1000.0, 4) AS qc
        |FROM a ORDER BY returnflag, p""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      // Pass 1 (r13: was TWO passes — a min/max pre-pass deriving an
      // even bucket width W, then the histogram): the bucket function is
      // now DATA-INDEPENDENT, so the histogram is the first and only
      // plan-build scan and the whole operator runs 2 corpus passes
      // instead of 3 (guide §1.2 — remove passes outright). The bucket
      // is the top 20 bits of the IEEE-754 total-order pattern
      // (bits ^ ((bits >> 63) | Long.MinValue), the standard sortable-
      // bits transform — EXACT integer math, monotone in v by
      // construction, unlike any log/width arithmetic): sign + 11
      // exponent bits + 8 mantissa bits, i.e. 256 slices per binade.
      // Exactness needs ONLY monotonicity (bucket order = value order
      // for ANY monotone bucketing — the same argument as the old
      // floor(v/W), where it held for any W > 0); equal values have
      // equal bits, except ±0.0 — the one Spark-equal pair with distinct
      // bits, which lands in two adjacent buckets (-0.0 just below 0.0);
      // that split is still order-consistent, since no value sorts
      // between them. The driver
      // collect is ≤ |G| · occupied buckets, occupied ≤ 256·binades
      // present (≤ 2^20 hard at any domain; ~2k for a price-like
      // column spanning ~8 binades — same order as the old |G|·4096
      // cap), and the boundary bucket pass 2 ranks holds ≤ 1/256 of a
      // binade's rows — magnitude-adaptive where the even-width grid
      // was density-blind. Prefix sums, target ranks and bracketing
      // buckets still resolve in plain integer arithmetic here;
      // chaining them as DataFrames instead costs ~8 extra AQE stage
      // round-trips on the latency path to move ~3k rows.
      val bucketOf = udf { v: Double =>
        val b = java.lang.Double.doubleToLongBits(v)
        (b ^ ((b >> 63) | Long.MinValue)) >>> 44
      }
      val bucketed = base.withColumn("b", bucketOf(col("v")))
      val hist = bucketed.groupBy("g", "b").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // per (group, p, targetRank): the bucket covering the rank and the
      // count of rows in earlier buckets (a lo+1 past the group's end
      // lands in no bucket and drops — the final coalesce's case)
      val tbs = hist.groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        val sorted = rows.sortBy(_._2)
        val cumEnd = sorted.scanLeft(0L)(_ + _._3).tail
        val n = cumEnd.last
        Seq(250L, 500L, 750L).flatMap { p =>
          val lo   = (p * (n - 1)) / 1000 + 1
          val frac = (p * (n - 1)) % 1000
          Seq(lo, lo + 1).filter(rn => rn >= 1 && rn <= n).map { rn =>
            val i = cumEnd.indexWhere(_ >= rn)
            (g, p, lo, frac, rn, sorted(i)._2, if (i == 0) 0L else cumEnd(i - 1))
          }
        }
      }
      val tbDf = s.createDataFrame(tbs.map(t => (t._1, t._2, t._3, t._4, t._5)))
        .toDF("g", "p", "lo", "frac", "rn")
      val needed = s.createDataFrame(tbs.map(t => (t._1, t._6, t._7)).distinct)
        .toDF("g", "b", "cumBefore")
      // Pass 2: rank ONLY the bracketing buckets' rows (global rank =
      // bucket's cumulative predecessor count + within-bucket
      // row_number — exact because the sortable-bits bucket is monotone
      // in v, so every value in an earlier bucket sorts before every value
      // here). The only window runs over ~n/buckets-row slices; the
      // fact table is never globally sorted, and the two order
      // statistics selected are EXACTLY the full sort's.
      val ranked = bucketed.join(broadcast(needed), Seq("g", "b"))
        .withColumn("rn", col("cumBefore") +
          row_number().over(Window.partitionBy("g", "b").orderBy("v")))
      ranked.join(broadcast(tbDf), Seq("g", "rn"))
        .groupBy("g", "p")
        .agg(
          min(when(col("rn") === col("lo"), col("v"))).as("v_lo"),
          min(when(col("rn") === col("lo") + 1, col("v"))).as("v_hi"),
          min(col("frac")).as("frac"))
        .select(col("g").as("returnflag"), col("p"),
          round(col("v_lo") +
            (coalesce(col("v_hi"), col("v_lo")) - col("v_lo")) * col("frac") / lit(1000.0), 4)
            .as("qc"))
        .orderBy("returnflag", "p")
    },

    // -- q31: GROUPING SETS — explicit set list (the general form) --------
    // Completes the multi-level aggregation family (q19 ROLLUP hierarchy,
    // q27 CUBE powerset): an explicit set list computes EXACTLY the
    // requested levels — here the two 1-D marginals, which neither
    // rollup nor cube can produce without also paying for levels the
    // caller didn't ask for. Same Expand-then-ONE-hash-agg physical
    // shape as q27: each input row replicates once per set (2×, a
    // constant independent of data size) and partial aggregation folds
    // map-side, so any number of requested levels costs one shuffle.
    NamedQuery(
      "q31_grouping_sets",
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, returnflag, linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          dsum(col("l_quantity")).cast("decimal(18,2)").cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("gid"), col("sum_qty"), col("n"))
        .orderBy("gid", "returnflag", "linestatus")
    },

    // -- q32: UNPIVOT — wide-to-long reshaping (q28's inverse) ------------
    // Spark's unpivot plans as an Expand (4 output rows per input, no
    // join, no extra shuffle); the downstream aggregation is partial-
    // aggregable as usual, so the only wide op is the final groupBy —
    // the shape that holds at any corpus size. The oracle states the
    // same semantics as a UNION ALL of one SELECT per measure.
    NamedQuery(
      "q32_unpivot",
      """SELECT l_returnflag AS returnflag, measure,
        |  CAST(CAST(sum(CAST(val AS DECIMAL(14,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem) u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy("l_returnflag", "measure")
        .agg(dsum(col("val")).cast("decimal(18,2)").cast("double").as("total"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag").as("returnflag"), col("measure"),
          col("total"), col("n"))
        .orderBy("returnflag", "measure")
    },

    // -- q33: the full rank-function family over ONE window ---------------
    // rank / dense_rank / ntile / percent_rank / cume_dist share a
    // single (partition, order) spec, so Catalyst evaluates all five in
    // ONE Window operator — one shuffle on the partition key, one sort,
    // five frame-free rank computations in the same pass. The ratio
    // functions are portable because each is a SINGLE division of exact
    // integers ((rank−1)/(n−1), rowsLE/n): no float accumulation, both
    // engines round the one quotient identically (single-row partitions
    // define percent_rank = 0 on both).
    NamedQuery(
      "q33_rank_family",
      """SELECT o_custkey AS custkey, o_orderkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS nt,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY custkey, o_orderkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"),
          rank().over(w).cast("bigint").as("rnk"),
          dense_rank().over(w).cast("bigint").as("drnk"),
          ntile(4).over(w).cast("bigint").as("nt"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"))
        .orderBy("custkey", "o_orderkey")
    },

    // -- q34: KMV distinct sketch vs exact countDistinct ------------------
    // Mergeable bounded-state cardinality (Sketches.KmvDistinctAggregator,
    // k=128): partial-agg state is ≤128 doubles per group at ANY row
    // count, vs countDistinct shuffling every distinct value. The sketch
    // is DETERMINISTIC (k-smallest-distinct of splitmix64 hashes is
    // order- and grouping-independent), so the oracle re-derives the
    // exact same estimate: the same integer hash chain in HUGEINT
    // arithmetic, the same (h >> 11)/2^53 normalization, the same
    // (k−1)/u_k quotient — a sketch with a hash-exact oracle, not a
    // tolerance check. n_exact doubles as the accuracy witness.
    NamedQuery(
      "q34_kmv_distinct",
      s"""WITH ids AS (SELECT DISTINCT event_type, user_id FROM events),
         |h0 AS (SELECT event_type, xor(CAST(user_id AS UBIGINT), CAST(user_id AS UBIGINT) >> 30) AS h FROM ids),
         |h1 AS (SELECT event_type, ${kmvMul("h", 0xbf58476d1ce4e5b9L)} AS h FROM h0),
         |h2 AS (SELECT event_type, ${kmvMul("xor(h, h >> 27)", 0x94d049bb133111ebL)} AS h FROM h1),
         |hf AS (SELECT event_type, xor(h, h >> 31) AS h FROM h2),
         |u AS (SELECT event_type, CAST(h >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM hf),
         |r AS (SELECT event_type, u,
         |        row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM u),
         |kth AS (SELECT event_type, n, u FROM r WHERE rn = LEAST(n, 128))
         |SELECT event_type, CAST(n AS BIGINT) AS n_exact,
         |  ROUND(CASE WHEN n < 128 THEN CAST(n AS DOUBLE)
         |             ELSE CAST(127 AS DOUBLE) / u END, 4) AS estimate
         |FROM kth ORDER BY event_type""".stripMargin) { (s, dir) =>
      val kmv = udaf(new graft.functions.Sketches.KmvDistinctAggregator(128))
      val ev = Tables.events(s, dir)
      // The sketch aggregates SEPARATELY from the exact witness: a
      // combined agg would inherit countDistinct's expand-and-shuffle-
      // every-distinct-value plan, hiding exactly the bounded-state
      // shape the sketch exists for. Alone it plans as partial/final
      // ObjectHashAggregate over raw rows — ≤k-double buffers are all
      // that shuffles. The witness join is |groups| rows (broadcast).
      val est = ev.groupBy("event_type")
        .agg(round(kmv(col("user_id")), 4).as("estimate"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(broadcast(exact), "event_type")
        .select(col("event_type"), col("n_exact"), col("estimate"))
        .orderBy("event_type")
    },

    // -- q35: time-series gap-fill (dense resample) -----------------------
    // q12's hourly rollup emits only OBSERVED buckets; downstream
    // time-series consumers (charting, anomaly baselines, windowed
    // models) need the DENSE grid with explicit zeros. The grid is
    // sequence(min_hour, max_hour) exploded from ONE aggregate row ×
    // the bounded event-type domain — |hours|·|types| rows, corpus-
    // independent — left-joined to the observed counts (one keyed
    // shuffle). All values are integers; hour strings render in the
    // session-pinned UTC zone on both engines.
    NamedQuery(
      "q35_gapfill",
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                  date_trunc('hour', max(ts)) AS hi FROM events),
        |g AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT strftime(g.h, '%Y-%m-%d %H:00') AS hour,
        |  ty.event_type AS event_type,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM g CROSS JOIN ty
        |LEFT JOIN c ON c.h = g.h AND c.event_type = ty.event_type
        |ORDER BY hour, ty.event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val grid = ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
        .crossJoin(ev.select("event_type").distinct())
      grid.join(hourly, Seq("h", "event_type"), "left")
        .select(date_format(col("h"), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("hour", "event_type")
    },

    // -- q36: count-min heavy-hitter estimation ---------------------------
    // CMS over the event stream's user_id: the frequency companion to
    // q34's KMV cardinality sketch. ONE corpus pass builds the d×w
    // counter matrix (partial-agg state is d·w longs per partition —
    // map-side combined, nothing key-shaped shuffles); candidate keys
    // (a bounded sample set) then read `min` over their d counters from
    // the driver-collected sketch. est_events ≥ n_exact ALWAYS (CMS
    // one-sided error) and the oracle re-derives the identical bucket
    // sums — the same salted-splitmix64 chain in HUGEINT arithmetic —
    // so this is a hash-exact compare, not a tolerance check; n_exact
    // doubles as the accuracy witness.
    NamedQuery(
      "q36_cms_heavy",
      cmsHeavyOracleSql) { (s, dir) =>
      import graft.functions.Sketches
      val ev  = Tables.events(s, dir)
      val cms = udaf(new Sketches.CmsAggregator(CmsD, CmsW))
      // ONE corpus pass folds the d·w counter matrix; the single-row
      // result is collected driver-side (d·w longs — 16 KB at the
      // default geometry, a CONSTANT of the sketch, never the corpus)
      // and enters the estimate UDF as closure state, so no per-row
      // array ships with a crossJoin
      val skArr: Seq[Long] = ev.agg(cms(col("user_id")).as("sk"))
        .collect()(0).getAs[scala.collection.Seq[Long]]("sk").toSeq
      cmsHeavyServe(ev, skArr)
    },

    // -- q38: LIVE count-min heavy hitters ---------------------------------
    // q36's sketch maintained INCREMENTALLY (streaming/LiveSketches):
    // three disjoint micro-batches each fold one O(|batch|) partial
    // sketch delta into the VersionedState layout; a FRESH maintainer
    // (restart recovery) merges the committed deltas driver-side
    // (≤versions × d·w longs — sketch constants) and serves. The oracle
    // is q36's SQL VERBATIM: counter addition is associative and
    // commutative, so the live sketch is bit-identical to the batch
    // sketch under any batch split — the reference's one-combiner-at-
    // every-scope contract carried to analytics state, proved
    // hash-exactly on the gate.
    NamedQuery(
      "q38_live_cms",
      cmsHeavyOracleSql) { (s, dir) =>
      val ev = Tables.events(s, dir)
      cmsHeavyServe(ev, liveCmsSketches(s, dir, ev)._1)
    },

    // -- q40: LIVE CMS time travel on the gate ------------------------------
    // q38's store read at version 1 instead of latest: the snapshot
    // merges ONLY the first two deltas, which by the batch split (pmod
    // 3) contain exactly the user_id % 3 < 2 rows — so the oracle is
    // q36's SQL re-derived over that prefix of events. This puts
    // `cmsAt(v)` (the /sketch/cms?asOf= serving path) on the
    // correctness gate the way ws_asof_q gates the engine's time
    // travel: a wrong version resolution or a delta leaking across the
    // snapshot boundary hash-mismatches. Shares q38's store build.
    // (the oracle predicate is the sign-safe pmod form — DuckDB's % is
    // sign-sensitive, and the store split uses pmod, so a negative
    // user_id would otherwise land on different sides of the two)
    NamedQuery(
      "q40_live_cms_asof",
      cmsHeavySqlOver("evp",
        "evp AS (SELECT * FROM events WHERE ((user_id % 3) + 3) % 3 < 2),\n")) { (s, dir) =>
      val ev = Tables.events(s, dir)
      cmsHeavyServe(ev.filter(pmod(col("user_id"), lit(3)) < 2),
        liveCmsSketches(s, dir, ev)._2)
    },

    // -- q37: bottom-k sampled quantiles ----------------------------------
    // The DISTRIBUTION sketch beside q34 (cardinality) and q36
    // (frequency): per-group quantiles from a bottom-k uniform row
    // sample (Sketches.BottomKQuantiles, k=512). Where an exact
    // quantile sorts the group (q30 needed the histogram-bracket trick
    // to avoid that), the sketch's partial-agg state is ≤k (hash, value)
    // pairs per group at ANY row count — map-side combined, mergeable,
    // and ORDER-INDEPENDENT: the sample is "the rows whose unique key
    // (l_orderkey·8+l_linenumber) hashes to the k smallest splitmix64
    // points", a function of the row multiset alone, which is what lets
    // the oracle re-derive the exact same sample (same HUGEINT hash
    // chain, same (rank·100 ≥ p·m) quantile rule) — hash-exact, not a
    // tolerance check. Sampling error is the standard O(sqrt(p(1-p)/k)).
    NamedQuery(
      "q37_bottomk_quantile",
      bottomkQuantileOracleSql) { (s, dir) =>
      val qs = udaf(new graft.functions.Sketches.BottomKQuantiles(512),
        graft.functions.Sketches.longDoubleEnc)
      // the sketch aggregates RAW rows (one partial/final ObjectHashAgg
      // pass, ≤k-pair buffers are all that shuffles — q34's posture);
      // the unique row key doubles as the sample frame
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(qs(col("l_orderkey") * 8 + col("l_linenumber").cast("long"),
          col("l_quantity")).as("sk"))
        .select(col("l_returnflag"), col("sk.n_sample"),
          col("sk.p50"), col("sk.p90"), col("sk.p99"))
        .orderBy("l_returnflag")
    },

    // -- q39: LIVE bottom-k quantiles --------------------------------------
    // q37's per-group sample maintained incrementally — the second
    // instance proving streaming/LiveSketches is generic over
    // associative sketches (qsMerge plays the role counter addition
    // plays for q38's CMS): three disjoint micro-batches each persist a
    // per-group ≤k-pair partial (BottomKSample), a fresh maintainer
    // merges them driver-side through the SAME qsMerge/qsFinish the
    // batch aggregator uses, and the oracle is q37's SQL VERBATIM —
    // the k-smallest-by-hash set of a union is the k-smallest of the
    // k-smallest, so live ≡ batch bit-exactly under any split.
    NamedQuery(
      "q39_live_quantile",
      bottomkQuantileOracleSql) { (s, dir) =>
      quantileMapDf(s, liveQuantileMaps(s, dir)._1)
    },

    // -- q41: LIVE quantile time travel on the gate --------------------------
    // q39's store read at version 1: the snapshot merges the first two
    // deltas — by the pmod-3 key split, exactly the (l_orderkey·8 +
    // l_linenumber) % 3 < 2 rows — so the oracle is q37's SQL over that
    // prefix of lineitem. q40's discipline for the SECOND sketch store:
    // per-group bottom-k merge at a version (`quantilesAt(v)`, the
    // /sketch/quantiles?asOf= path) proved against DuckDB, not only
    // the in-JVM property. Shares q39's store build.
    // (sign-safe pmod form, as in q40 — the key is positive on TPC-H
    // data, but the oracle must match the pmod split on ANY data)
    NamedQuery(
      "q41_live_quantile_asof",
      bottomkQuantileSqlOver(
        " WHERE (((l_orderkey * 8 + l_linenumber) % 3) + 3) % 3 < 2")) { (s, dir) =>
      quantileMapDf(s, liveQuantileMaps(s, dir)._2)
    }
  )

  /** ONE live quantile store build shared by q39 (latest merge) and q41
    * (time-travel merge at version 1): three pmod-3 key-split batch
    * deltas, then a FRESH maintainer reads both snapshots.
    */
  private def liveQuantileMaps(s: SparkSession, dir: String)
      : (Map[String, graft.functions.Sketches.QsOut],
         Map[String, graft.functions.Sketches.QsOut]) = {
    liveQuantileCache(s, dir) {
      val li = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        (col("l_orderkey") * 8 + col("l_linenumber").cast("long")).as("key"),
        col("l_quantity").as("v"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-live-q").toString
      val writer = new graft.streaming.LiveQuantileMaintainer(s, tmp, k = 512)
      (0 until 3).foreach(b =>
        writer.processBatch(li.filter(pmod(col("key"), lit(3)) === b), b.toLong))
      val reader = new graft.streaming.LiveQuantileMaintainer(s, tmp, k = 512)
      (reader.quantilesAt(), reader.quantilesAt(1L))
    }
  }

  private def quantileMapDf(s: SparkSession,
      out: Map[String, graft.functions.Sketches.QsOut]): DataFrame = {
    import s.implicits._
    out.toSeq.sortBy(_._1)
      .map { case (g, q) => (g, q.n_sample, q.p50, q.p90, q.p99) }
      .toDF("l_returnflag", "n_sample", "p50", "p90", "p99")
      .orderBy("l_returnflag")
  }

  /** The bottom-k quantile oracle, shared VERBATIM by q37 (batch
    * sketch) and q39 (live-maintained sketch) — the q36/q38 posture.
    */
  private def bottomkQuantileOracleSql: String = bottomkQuantileSqlOver("")

  /** q37's oracle parameterized over a lineitem row filter (q41 passes
    * the version-1 prefix: key % 3 < 2).
    */
  private def bottomkQuantileSqlOver(where: String): String =
    s"""WITH k0 AS (SELECT l_returnflag, l_quantity,
       |    CAST(l_orderkey * 8 + l_linenumber AS UBIGINT) AS x FROM lineitem$where),
       |h0 AS (SELECT l_returnflag, l_quantity, xor(x, x >> 30) AS h FROM k0),
       |h1 AS (SELECT l_returnflag, l_quantity, ${kmvMul("h", 0xbf58476d1ce4e5b9L)} AS h FROM h0),
       |h2 AS (SELECT l_returnflag, l_quantity, ${kmvMul("xor(h, h >> 27)", 0x94d049bb133111ebL)} AS h FROM h1),
       |u AS (SELECT l_returnflag, l_quantity,
       |    CAST(xor(h, h >> 31) >> 11 AS DOUBLE) / 9007199254740992.0 AS u FROM h2),
       |s AS (SELECT l_returnflag, l_quantity FROM (
       |    SELECT l_returnflag, l_quantity,
       |      row_number() OVER (PARTITION BY l_returnflag ORDER BY u, l_quantity) AS rn
       |    FROM u) t WHERE rn <= 512),
       |m AS (SELECT l_returnflag, count(*) AS m FROM s GROUP BY 1),
       |r AS (SELECT l_returnflag, l_quantity,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn2 FROM s)
       |SELECT r.l_returnflag, CAST(m.m AS BIGINT) AS n_sample,
       |  min(CASE WHEN rn2 * 100 >= 50 * m.m THEN l_quantity END) AS p50,
       |  min(CASE WHEN rn2 * 100 >= 90 * m.m THEN l_quantity END) AS p90,
       |  min(CASE WHEN rn2 * 100 >= 99 * m.m THEN l_quantity END) AS p99
       |FROM r JOIN m USING (l_returnflag)
       |GROUP BY r.l_returnflag, m.m ORDER BY l_returnflag""".stripMargin

  // one live quantile store per (session, dir), like liveCmsCache
  private val liveQuantileCache = new graft.SessionMemo[
    (Map[String, graft.functions.Sketches.QsOut], Map[String, graft.functions.Sketches.QsOut])]

  /** The CMS heavy-hitter oracle, shared VERBATIM by q36 (batch sketch)
    * and q38 (live-maintained sketch) — the share IS the claim: the
    * oracle defines the answer once, and both construction paths must
    * produce it bit-identically.
    */
  private def cmsHeavyOracleSql: String = cmsHeavySqlOver("events", "")

  /** q36's oracle parameterized over the event source: `src` is the
    * table/CTE BOTH the bucket sums and the exact witness aggregate
    * over, `pre` an optional leading CTE defining it (q40 passes the
    * version-1 prefix `user_id % 3 < 2`).
    */
  private def cmsHeavySqlOver(src: String, pre: String): String =
    s"""WITH ${pre}cand AS (SELECT DISTINCT user_id FROM $src WHERE user_id % 7 = 0),
       |${(0 until CmsD).map(j => cmsBucketCtes(s"o$j", src, j) +
            s",\nbc$j AS (SELECT bucket, count(*) AS c FROM o${j}f GROUP BY bucket)")
            .mkString(",\n")},
       |${(0 until CmsD).map(j => cmsBucketCtes(s"q$j", "cand", j)).mkString(",\n")},
       |ex AS (SELECT user_id, count(*) AS n FROM $src GROUP BY user_id)
       |SELECT cand.user_id, CAST(ex.n AS BIGINT) AS n_exact,
       |  CAST(least(${(0 until CmsD).map(j => s"x$j.c").mkString(", ")}) AS BIGINT) AS est_events
       |FROM cand
       |JOIN ex ON ex.user_id = cand.user_id
       |${(0 until CmsD).map(j =>
            s"JOIN q${j}f ON q${j}f.user_id = cand.user_id " +
            s"JOIN bc$j x$j ON x$j.bucket = q${j}f.bucket").mkString("\n")}
       |ORDER BY cand.user_id""".stripMargin

  /** The serving side shared by q36/q38: candidates and the exact
    * witness aggregate ONLY the candidate-gated semi-join (the corpus-
    * keyed all-users count table is never formed), and the estimate
    * reads min-of-counters from the driver-held sketch as closure
    * state — no per-row sketch array, no crossJoin.
    */
  private def cmsHeavyServe(ev: DataFrame, skArr: Seq[Long]): DataFrame = {
    import graft.functions.Sketches
    val cands = ev.select("user_id")
      .filter(pmod(col("user_id"), lit(7)) === 0).distinct()
    val exact = ev.join(broadcast(cands), Seq("user_id"), "leftsemi")
      .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
    val est = udf { (u: Long) => Sketches.cmsEstimate(skArr, u, CmsD, CmsW) }
    cands.join(exact, "user_id")
      .select(col("user_id"), col("n_exact"),
        est(col("user_id")).as("est_events"))
      .orderBy("user_id")
  }

  // one live-sketch store per (session, dir): built on first call,
  // reused across bench passes
  private val liveCmsCache = new graft.SessionMemo[(Seq[Long], Seq[Long])]

  /** ONE live CMS store build shared by q38 (latest merge) and q40
    * (time-travel merge at version 1): three pmod-3 batch deltas, then
    * a FRESH maintainer (restart recovery) reads both snapshots.
    */
  private def liveCmsSketches(s: SparkSession, dir: String,
      ev: DataFrame): (Seq[Long], Seq[Long]) = {
    liveCmsCache(s, dir) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-live-cms").toString
      val writer = new graft.streaming.LiveSketchMaintainer(s, tmp, CmsD, CmsW)
      (0 until 3).foreach(b =>
        writer.processBatch(ev.filter(pmod(col("user_id"), lit(3)) === b), b.toLong))
      val reader = new graft.streaming.LiveSketchMaintainer(s, tmp, CmsD, CmsW)
      (reader.cmsAt(), reader.cmsAt(1L))
    }
  }

  /** CTE chain re-deriving `Sketches.cmsBucket(x, j, w)` for every
    * user_id of `src`: salted splitmix64 (salt = golden · (j+1), the
    * same constant the Scala side wraps mod 2⁶⁴) then mod w — constants
    * printed from the Scala values so they cannot drift.
    */
  private def cmsBucketCtes(tag: String, src: String, j: Int): String = {
    val salt = java.lang.Long.toUnsignedString(0x9e3779b97f4a7c15L * (j + 1))
    s"""${tag}0 AS (SELECT user_id, xor(CAST(user_id AS UBIGINT), CAST($salt AS UBIGINT)) AS h FROM $src),
       |${tag}1 AS (SELECT user_id, ${kmvMul("xor(h, h >> 30)", 0xbf58476d1ce4e5b9L)} AS h FROM ${tag}0),
       |${tag}2 AS (SELECT user_id, ${kmvMul("xor(h, h >> 27)", 0x94d049bb133111ebL)} AS h FROM ${tag}1),
       |${tag}f AS (SELECT user_id, CAST(xor(h, h >> 31) % $CmsW AS INT) AS bucket FROM ${tag}2)""".stripMargin
  }

  /** 64-bit wrapping multiply in DuckDB HUGEINT arithmetic (the oracle
    * side of `Sketches.kmvPoint`'s splitmix64 — same technique as the
    * pipeline module's portable-hash oracles).
    */
  private def kmvMul(col: String, c: Long): String = {
    val hi = c >>> 32
    val lo = c & 0xFFFFFFFFL
    s"CAST(((CAST($col AS HUGEINT) * $lo) + ((CAST($col AS HUGEINT) * $hi) % 4294967296) * 4294967296) % 18446744073709551616 AS UBIGINT)"
  }
}
