package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Sixth relational wave (SURVEY.md §2.2): sliding ROWS frames,
  * UNPIVOT, null-handling surface, LATERAL subqueries. Exact decimal
  * arithmetic wherever money is averaged so parity is bit-exact.
  */
object RelationalQueries6 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // sliding window: 4-row trailing sum per customer (exact decimal,
    // cast to double at the end) + row count actually in the frame
    "q48_moving_avg" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        .rowsBetween(-3, Window.currentRow)
      Tables.load(s, dir, "orders")
        .filter($"o_custkey" <= 200)
        .withColumn("trail_sum",
          sum($"o_totalprice".cast("decimal(15,2)")).over(w).cast("double"))
        .withColumn("n_in_frame", count(lit(1)).over(w))
        .select($"o_custkey", $"o_orderkey", $"trail_sum", $"n_in_frame")
    },

    // UNPIVOT (stack): customer balance/key columns to (attr, val) rows
    "q49_unpivot" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "customer")
        .filter($"c_custkey" <= 100)
        .select($"c_custkey", expr(
          "stack(2, 'acctbal', c_acctbal, 'nationkey', cast(c_nationkey as double))"
        ).as(Seq("attr", "val")))
    },

    // null-handling surface: coalesce / nullif / full-outer nulls
    "q50_null_funcs" -> { (s, dir) =>
      import s.implicits._
      val n = Tables.load(s, dir, "nation")
      val agg = Tables.load(s, dir, "supplier")
        .filter($"s_acctbal" > 8000.0)
        .groupBy($"s_nationkey").agg(count(lit(1)).as("n_rich"))
      n.join(agg, $"n_nationkey" === $"s_nationkey", "left")
        .select($"n_nationkey", $"n_name",
          coalesce($"n_rich", lit(0L)).as("rich_or_zero"),
          nullif($"n_regionkey", lit(2)).as("region_not2"),
          when($"n_rich".isNull, lit("none")).otherwise(lit("some")).as("has_rich"))
    },

    // explicit Bloom-filter semi-join pruning: filter of the selective
    // build side's keys kills non-matching lineitem rows at the scan,
    // before the join shuffle; trailing exact join makes false
    // positives irrelevant — row-identical to the plain join
    "q52_bloom_join" -> { (s, dir) =>
      import s.implicits._
      val bigOrders = Tables.load(s, dir, "orders")
        .filter($"o_totalprice" > 450000.0)
        .select($"o_orderkey", $"o_orderstatus")
      graft.operators.BloomPrune.prunedEquiJoin(
          Tables.load(s, dir, "lineitem"), bigOrders,
          "l_orderkey", "o_orderkey", expectedItems = 4096L)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          sum($"l_quantity".cast("decimal(15,2)")).cast("double").as("sum_qty"))
    },

    // global row numbering WITHOUT the single-task no-partition window:
    // range repartition + per-partition offsets (operators.GlobalIndex)
    // — identical numbering to row_number() OVER (ORDER BY ...)
    "q53_global_index" -> { (s, dir) =>
      import s.implicits._
      graft.operators.GlobalIndex.withRowNumber(
          Tables.load(s, dir, "orders")
            .select($"o_orderkey", $"o_totalprice"),
          "rn", $"o_totalprice", $"o_orderkey")
        .select($"o_orderkey", $"rn")
    },

    // quantile bucketing (feature binning) at scale: cutpoints from a
    // mergeable KLL sketch (exact regime == quantile_disc), broadcast
    // as literals into a codegen'd CASE — the scale-safe alternative to
    // ntile() OVER (ORDER BY ...), which funnels all rows into one task
    "q54_quantile_bucket" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions._
      val orders = Tables.load(s, dir, "orders")
      val cuts = orders
        .agg(kll_sketch_agg($"o_totalprice", 32768).as("sk"))
        .select(kll_quantiles($"sk", Seq(0.25, 0.5, 0.75)).as("q"))
        .head().getSeq[Double](0)
      orders
        .withColumn("bucket",
          when($"o_totalprice" <= cuts(0), 1)
            .when($"o_totalprice" <= cuts(1), 2)
            .when($"o_totalprice" <= cuts(2), 3)
            .otherwise(4))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
          min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
    },

    // snapshot diff (CDC without a transaction log): one full-outer join
    // classifies every key as insert/delete/update/unchanged. The "new"
    // snapshot derives deterministically from orders (delete %97 keys,
    // bump price on %13, re-insert %89 under offset keys) so the oracle
    // replays the exact same diff
    "q55_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val old = Tables.load(s, dir, "orders")
      val updated = old.filter(pmod($"o_orderkey", lit(97)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod($"o_orderkey", lit(13)) === 0, $"o_totalprice" + 1000.0)
            .otherwise($"o_totalprice"))
      val inserts = old.filter(pmod($"o_orderkey", lit(89)) === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 100000000L)
      val neu = updated.unionByName(inserts)
      graft.operators.SnapshotDiff.diff(old, neu, Seq("o_orderkey"))
        .filter($"change" =!= "unchanged")
    },

    // LATERAL correlated subquery: each nation's single highest-balance
    // supplier (SQL surface; Catalyst plans the same window/join shapes)
    "q51_lateral" -> { (s, dir) =>
      Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
      Tables.load(s, dir, "supplier").createOrReplaceTempView("supplier")
      s.sql(
        """SELECT n_nationkey, n_name, t.s_suppkey AS top_suppkey,
          |  t.s_acctbal AS top_acctbal
          |FROM nation,
          |LATERAL (SELECT s_suppkey, s_acctbal FROM supplier
          |         WHERE s_nationkey = n_nationkey
          |         ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 1) t""".stripMargin)
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q48_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) OVER w AS DOUBLE)
        |    AS trail_sum,
        |  count(*) OVER w AS n_in_frame
        |FROM orders WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q49_unpivot" ->
      """SELECT c_custkey, attr, val FROM (
        |  SELECT c_custkey, c_acctbal AS acctbal,
        |    CAST(c_nationkey AS DOUBLE) AS nationkey
        |  FROM customer WHERE c_custkey <= 100)
        |UNPIVOT (val FOR attr IN (acctbal, nationkey))""".stripMargin,

    "q50_null_funcs" ->
      """SELECT n_nationkey, n_name,
        |  coalesce(n_rich, 0) AS rich_or_zero,
        |  nullif(n_regionkey, 2) AS region_not2,
        |  CASE WHEN n_rich IS NULL THEN 'none' ELSE 'some' END AS has_rich
        |FROM nation LEFT JOIN (
        |  SELECT s_nationkey, count(*) AS n_rich FROM supplier
        |  WHERE s_acctbal > 8000.0 GROUP BY s_nationkey) a
        |ON n_nationkey = s_nationkey""".stripMargin,

    "q55_snapshot_diff" ->
      """WITH newsnap AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0)
        |SELECT * FROM (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |         WHEN n.o_orderkey IS NULL THEN 'delete'
        |         WHEN o.o_totalprice = n.o_totalprice THEN 'unchanged'
        |         ELSE 'update' END AS change
        |  FROM orders o FULL OUTER JOIN newsnap n
        |    ON o.o_orderkey = n.o_orderkey) t
        |WHERE change <> 'unchanged'""".stripMargin,

    "q54_quantile_bucket" ->
      """WITH c AS (SELECT
        |  quantile_disc(o_totalprice, 0.25) AS q1,
        |  quantile_disc(o_totalprice, 0.50) AS q2,
        |  quantile_disc(o_totalprice, 0.75) AS q3 FROM orders)
        |SELECT CASE WHEN o_totalprice <= q1 THEN 1
        |            WHEN o_totalprice <= q2 THEN 2
        |            WHEN o_totalprice <= q3 THEN 3
        |            ELSE 4 END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders, c GROUP BY 1""".stripMargin,

    "q53_global_index" ->
      """SELECT o_orderkey,
        |  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        |FROM orders""".stripMargin,

    "q52_bloom_join" ->
      """SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000.0
        |GROUP BY o_orderstatus""".stripMargin,

    "q51_lateral" ->
      """SELECT n_nationkey, n_name, t.s_suppkey AS top_suppkey,
        |  t.s_acctbal AS top_acctbal
        |FROM nation,
        |LATERAL (SELECT s_suppkey, s_acctbal FROM supplier
        |         WHERE s_nationkey = n_nationkey
        |         ORDER BY s_acctbal DESC, s_suppkey ASC LIMIT 1) t""".stripMargin
  )
}
