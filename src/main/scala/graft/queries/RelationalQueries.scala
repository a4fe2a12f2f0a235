package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational / analytics core (SURVEY.md §2.2).
  *
  * Oracle parity discipline: money aggregates are computed with exact
  * decimal arithmetic and only cast to double at the end, so the result
  * is independent of partial-aggregation order and bit-identical between
  * Spark and DuckDB. Counts and sums of integral-valued doubles are
  * already exact.
  */
object RelationalQueries extends graft.QueryModule {

  /** Exact 2-dec money: double -> decimal(15,2) (values are 2-dec by construction). */
  private def money(c: Column): Column = c.cast(DecimalType(15, 2))
  /** Exact 4-dec rate (discount/tax in [0,1]). */
  private def rate(c: Column): Column = c.cast(DecimalType(8, 4))
  private def msum(c: Column): Column = sum(money(c)).cast("double")

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q1_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity").as("sum_qty"),
          msum($"l_extendedprice").as("sum_base_price"),
          sum(money($"l_extendedprice") * (lit(1).cast(DecimalType(8, 4)) - rate($"l_discount")))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    "q2_join_agg" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      val nat = Tables.load(s, dir, "nation")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          sum(money($"l_extendedprice") * (lit(1).cast(DecimalType(8, 4)) - rate($"l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    },

    "q3_topk" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .filter($"c_mktsegment" === "BUILDING")
        .groupBy($"l_orderkey", $"o_orderdate".cast("date").as("o_orderdate"))
        .agg(sum(money($"l_extendedprice") * (lit(1).cast(DecimalType(8, 4)) - rate($"l_discount")))
          .cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey".asc)
        .limit(10)
    },

    "q4_filter_project" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .filter($"l_quantity" > 45 && $"l_returnflag" === "R")
        .select($"l_orderkey", $"l_partkey", $"l_quantity")
    },

    "q5_sort" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .filter($"o_totalprice" > 100000.0)
        .select($"o_orderkey", $"o_totalprice", $"o_orderdate".cast("date").as("o_orderdate"))
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(100)
    },

    "q6_distinct" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .select($"l_returnflag", $"l_linestatus")
        .distinct()
    },

    "q7_union" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer").select($"c_nationkey".cast("int").as("nationkey"))
      val supp = Tables.load(s, dir, "supplier").select($"s_nationkey".cast("int").as("nationkey"))
      cust.union(supp).distinct()
    },

    "q8_window_rank" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      Tables.load(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
    },

    "q9_window_running" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate".asc, $"l_orderkey".asc, $"l_linenumber".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "lineitem")
        .filter($"l_suppkey" <= 20)
        .withColumn("running_qty", sum($"l_quantity").over(w))
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_quantity", $"running_qty")
    },

    "q10_semi_join" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders").filter($"o_totalprice" > 200000.0)
      cust.join(ord, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
    },

    "q11_anti_join" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders").filter($"o_totalprice" > 300000.0)
      cust.join(ord, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_acctbal")
    },

    "q12_rollup" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    },

    "q13_cube" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(msum($"o_totalprice").as("sum_price"), count(lit(1)).as("n"))
    },

    "q14_pivot" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum($"l_quantity"))
        .select($"l_linestatus", $"A".as("qty_a"), $"N".as("qty_n"), $"R".as("qty_r"))
    },

    "q17_percentiles" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          min($"l_quantity").as("min_qty"),
          max($"l_quantity").as("max_qty"))
    },

    "q18_hll_distinct" -> { (s, dir) =>
      import s.implicits._
      // HLL sketch is the 100 TB path; oracle checks the exact variant.
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("nd_parts"),
          count(lit(1)).as("n"))
    }
  )

  private val rev =
    "CAST(l_extendedprice AS DECIMAL(15,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))"

  val oracles: Seq[(String, String)] = Seq(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($rev) AS DOUBLE) AS sum_disc_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_join_agg" ->
      s"""SELECT n_name,
         |  CAST(sum($rev) AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin,

    "q3_topk" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
         |  CAST(sum($rev) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey ASC
         |LIMIT 10""".stripMargin,

    "q4_filter_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_returnflag = 'R'""".stripMargin,

    "q5_sort" ->
      """SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders
        |WHERE o_totalprice > 100000.0
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,

    "q6_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q7_union" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier)""".stripMargin,

    "q8_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3""".stripMargin,

    "q9_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |WHERE l_suppkey <= 20""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)""".stripMargin,

    "q11_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,

    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q13_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q14_pivot" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS qty_a,
        |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS qty_n,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS qty_r
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q17_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q18_hll_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_parts, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin
  )
}
