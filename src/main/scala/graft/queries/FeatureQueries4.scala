package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 feature additions, wave 2 — ML feature hygiene.
  *
  * `feat_target_encode_cv` — K-FOLD cross-fit target encoding, the
  * leakage-free form of feat_target_encode (a category's own fold
  * never sees its rows' targets — the train-time hygiene rule that
  * separates a usable encoder from target leakage): fold =
  * o_orderkey % 5 (deterministic — replayable, no RNG), encoding for
  * (category, fold) uses the OTHER folds' category stats and the
  * other folds' global prior, smoothing m = 10 as in the plain
  * encoder. One partial-agg (category, fold) rollup over the fact
  * table; everything after runs on the |cats|×K aggregated frame
  * (windows over ≤25 rows — downsample-then-window), the fold prior
  * on a K-row frame, smoothing arithmetic a fixed IEEE tree over
  * exact integer counts.
  *
  * `q110_decile_gain` — the decile gain/lift table (the model-eval
  * report ranking customers by account balance): KLL decile cuts in
  * the EXACT regime (k = 32768 ≥ n — INCLUSIVE getQuantile ==
  * DuckDB quantile_disc, the round-2 identity q54 pins), exact
  * decimal revenue sums cast to double at the END (the money rule),
  * cumulative share over the 10-row decile frame. The per-customer
  * revenue join shuffles once on the customer key; bucket assignment
  * is a broadcast of 9 cut values.
  */
object FeatureQueries4 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "feat_target_encode_cv" -> { (s, dir) =>
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderpriority".as("category"),
          ($"o_orderkey" % 5).as("fold"),
          when($"o_orderstatus" === "F", 1L).otherwise(0L).as("y"))
      val cf = o.groupBy($"category", $"fold")
        .agg(sum($"y").as("kf"), count(lit(1)).as("kn"))
      val wCat = Window.partitionBy($"category")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cf
        .withColumn("cat_kf", sum($"kf").over(wCat))
        .withColumn("cat_kn", sum($"kn").over(wCat))
        .withColumn("g_kf", sum($"kf").over(wAll))
        .withColumn("g_kn", sum($"kn").over(wAll))
        // fold-level global totals for the out-of-fold prior
        .withColumn("fold_kf",
          sum($"kf").over(Window.partitionBy($"fold")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("fold_kn",
          sum($"kn").over(Window.partitionBy($"fold")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("prior_oof",
          ($"g_kf" - $"fold_kf").cast("double") /
            ($"g_kn" - $"fold_kn").cast("double"))
        .select($"category", $"fold", $"kn".as("n"),
          ((($"cat_kf" - $"kf").cast("double") + lit(10.0) * $"prior_oof") /
            (($"cat_kn" - $"kn").cast("double") + lit(10.0))).as("enc"))
    },

    "q110_decile_gain" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions._
      import graft.operators.RankSelect
      val cust = Tables.load(s, dir, "customer")
      val qs = (1 to 9).map(_ / 10.0)
      // parity depends on the cuts matching DuckDB quantile_disc: the
      // value at 1-based rank ceil(q*n). Two exact paths, same cuts by
      // construction: KLL INCLUSIVE in its EXACT regime (k >= n — the
      // round-2 q54 identity) while n fits the KLL max k, and the
      // RankSelect ladder (exact ceil(qn) selection at ANY n, one
      // range shuffle) above the 65535 ceiling — so the query runs at
      // every scale instead of refusing past the sketch's exact regime
      val nCust = Tables.rowCount(s, dir, "customer")
      val cuts: Seq[Double] =
        if (nCust <= 65535L) {
          val k = math.max(8L, nCust).toInt
          cust.agg(kll_sketch_agg($"c_acctbal", k).as("sk"))
            .select(kll_quantiles($"sk", qs).as("q"))
            .head().getSeq[Double](0)
        } else {
          RankSelect.discreteQuantilesCapped(
              cust.select($"c_acctbal".cast("double").as("v"))
                .withColumn("g", lit(1)),
              Seq("g"), (1 to 9).map(i => (s"q$i", i.toLong, 10L)),
              "q", "n", 16, $"v")
            .select($"q", $"v").collect()
            .sortBy(_.getString(0)).map(_.getDouble(1)).toSeq
        }
      val bucketed = cust.withColumn("decile",
        cuts.zipWithIndex.foldRight(lit(10): org.apache.spark.sql.Column) {
          case ((c, i), acc) => when($"c_acctbal" <= c, i + 1).otherwise(acc)
        })
      val rev = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum($"o_totalprice".cast("decimal(15,2)")).as("rev"))
      val perDecile = bucketed
        .join(rev, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"),
          sum(coalesce($"rev", lit(0).cast("decimal(15,2)")))
            .as("revenue_dec"))
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wCum = Window.orderBy($"decile".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // cumulative from the TOP decile down — the gain curve's x-axis
      perDecile
        .withColumn("total_dec", sum($"revenue_dec").over(wAll))
        .withColumn("cum_dec", sum($"revenue_dec").over(wCum))
        .select($"decile", $"n_cust",
          $"revenue_dec".cast("double").as("revenue"),
          // cast the EXACT decimal sums to double, then ONE double
          // division — decimal-division result scales differ between
          // engines (Spark truncates the quotient to scale 6 here,
          // DuckDB keeps more), while sums < 2^53 cents are
          // double-exact and the division is IEEE-deterministic
          ($"cum_dec".cast("double") / $"total_dec".cast("double"))
            .as("cum_share"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "feat_target_encode_cv" ->
      """WITH o AS (SELECT o_orderpriority AS category,
        |    o_orderkey % 5 AS fold,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |cf AS (SELECT category, fold, CAST(sum(y) AS BIGINT) AS kf,
        |    CAST(count(*) AS BIGINT) AS kn
        |  FROM o GROUP BY 1, 2),
        |m AS (SELECT category, fold, kf, kn,
        |    CAST(sum(kf) OVER (PARTITION BY category) AS BIGINT) AS cat_kf,
        |    CAST(sum(kn) OVER (PARTITION BY category) AS BIGINT) AS cat_kn,
        |    CAST(sum(kf) OVER () AS BIGINT) AS g_kf,
        |    CAST(sum(kn) OVER () AS BIGINT) AS g_kn,
        |    CAST(sum(kf) OVER (PARTITION BY fold) AS BIGINT) AS fold_kf,
        |    CAST(sum(kn) OVER (PARTITION BY fold) AS BIGINT) AS fold_kn
        |  FROM cf)
        |SELECT category, fold, kn AS n,
        |  (CAST(cat_kf - kf AS DOUBLE) + 10.0 *
        |    (CAST(g_kf - fold_kf AS DOUBLE) / CAST(g_kn - fold_kn AS DOUBLE)))
        |  / (CAST(cat_kn - kn AS DOUBLE) + 10.0) AS enc
        |FROM m""".stripMargin,

    // quantile_disc == KLL INCLUSIVE in the exact regime (round-2
    // identity, the q54 precedent); decimal sums cast to double at
    // the END; the share division runs in decimal(38,6) then casts
    "q110_decile_gain" ->
      """WITH cuts AS (SELECT
        |    quantile_disc(c_acctbal, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
        |      AS q FROM customer),
        |b AS (SELECT c_custkey,
        |    CASE
        |      WHEN c_acctbal <= q[1] THEN 1 WHEN c_acctbal <= q[2] THEN 2
        |      WHEN c_acctbal <= q[3] THEN 3 WHEN c_acctbal <= q[4] THEN 4
        |      WHEN c_acctbal <= q[5] THEN 5 WHEN c_acctbal <= q[6] THEN 6
        |      WHEN c_acctbal <= q[7] THEN 7 WHEN c_acctbal <= q[8] THEN 8
        |      WHEN c_acctbal <= q[9] THEN 9 ELSE 10 END AS decile
        |  FROM customer CROSS JOIN cuts),
        |rev AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
        |  FROM orders GROUP BY 1),
        |pd AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
        |    sum(coalesce(rev, CAST(0 AS DECIMAL(15,2)))) AS revenue_dec
        |  FROM b LEFT JOIN rev ON b.c_custkey = rev.o_custkey
        |  GROUP BY 1)
        |SELECT decile, n_cust,
        |  CAST(revenue_dec AS DOUBLE) AS revenue,
        |  CAST(sum(revenue_dec) OVER (ORDER BY decile DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(sum(revenue_dec) OVER () AS DOUBLE) AS cum_share
        |FROM pd""".stripMargin
  )
}
