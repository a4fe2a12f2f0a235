package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions._

/** Fifth relational wave (SURVEY.md §2.2): set operations, IN/NOT IN
  * subqueries, distribution window functions, explode/unnest, regex
  * extraction, multi-distinct aggregation. Total orderings / integer
  * arithmetic throughout so results hash-match the DuckDB oracle.
  */
object RelationalQueries5 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q38_intersect" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .intersect(
          Tables.load(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
    },

    "q39_except" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "customer").select($"c_nationkey".as("nationkey"))
        .except(Tables.load(s, dir, "supplier")
          .filter($"s_acctbal" > 8000.0)
          .select($"s_nationkey".as("nationkey")))
    },

    // IN / NOT IN subqueries (SQL surface; Catalyst rewrites to
    // left-semi / left-anti joins — same plans as q10/q11, declared the
    // SQL way). Both branches tagged and unioned so one result covers
    // both predicate polarities.
    "q40_in_subquery" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT 'in' AS side, o_orderstatus, count(*) AS n
          |FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer
          |                    WHERE c_acctbal > 7000.0)
          |GROUP BY o_orderstatus
          |UNION ALL
          |SELECT 'not_in' AS side, o_orderstatus, count(*) AS n
          |FROM orders
          |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
          |                        WHERE c_acctbal > 7000.0)
          |GROUP BY o_orderstatus""".stripMargin)
    },

    "q41_percent_rank" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"s_nationkey")
        .orderBy($"s_acctbal".asc, $"s_suppkey".asc)
      Tables.load(s, dir, "supplier")
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .select($"s_nationkey", $"s_suppkey", $"s_acctbal", $"pr", $"cd")
    },

    // corpus-level term frequency: explode the token stream and count —
    // the vocabulary-histogram shape every training-data pipeline runs
    "q42_explode" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
    },

    "q43_first_last" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .filter($"o_custkey" <= 150)
        .withColumn("first_key", first($"o_orderkey").over(w))
        .withColumn("last_key", last($"o_orderkey").over(w))
        .withColumn("second_key", nth_value($"o_orderkey", 2).over(w))
        .select($"o_custkey", $"o_orderkey",
          $"first_key", $"last_key", $"second_key")
    },

    "q44_regexp_extract" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "part")
        .withColumn("brand_num",
          regexp_extract($"p_brand", "Brand#([0-9]+)", 1).cast("int"))
        .groupBy($"brand_num")
        .agg(count(lit(1)).as("n"), min($"p_partkey").as("first_part"))
    },

    "q45_multi_distinct" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          countDistinct($"l_suppkey").as("n_supp"),
          countDistinct($"l_partkey").as("n_part"),
          count(lit(1)).as("n"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q38_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q39_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier
        |WHERE s_acctbal > 8000.0""".stripMargin,

    "q40_in_subquery" ->
      """SELECT 'in' AS side, o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_acctbal > 7000.0)
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'not_in' AS side, o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |                        WHERE c_acctbal > 7000.0)
        |GROUP BY o_orderstatus""".stripMargin,

    "q41_percent_rank" ->
      """SELECT s_nationkey, s_suppkey, s_acctbal,
        |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |  ORDER BY s_acctbal ASC, s_suppkey ASC)""".stripMargin,

    "q42_explode" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word""".stripMargin,

    "q43_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders WHERE o_custkey <= 150
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin,

    "q44_regexp_extract" ->
      """SELECT CAST(regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS INT)
        |    AS brand_num,
        |  count(*) AS n, min(p_partkey) AS first_part
        |FROM part GROUP BY 1""".stripMargin,

    "q45_multi_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin
  )
}
