package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-9 event additions.
  *
  * `q115_time_to_convert` — CONVERSION LATENCY quantiles: for every
  * user, time from first `signup` to the first `purchase` at or after
  * it, reported as the exact p50/p90/p99 of the latency distribution —
  * the activation-speed number a growth dashboard leads with (q46's
  * funnel says WHO converts; this says HOW FAST). Latencies are exact
  * integer microsecond differences (the no-raw-timestamp rule:
  * unix_micros == epoch_us); the quantiles come from ONE
  * [[graft.operators.RankSelect]] range-shuffle pass with the exact
  * `ceil(q·n)` 1-based rank rule — bit-identical to DuckDB's
  * `quantile_disc` (the q68/feat_robust_scale discipline; a value tie
  * at the cut rank yields the same VALUE under any tie order, so the
  * user_id tiebreak only pins the row, never the answer). Scale shape:
  * two keyed aggregations (first-signup, first-purchase-after) and the
  * single-group rank ladder with the real group-count cap — no global
  * window sort.
  */
object EventQueries3 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q115_time_to_convert" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.RankSelect
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      val su = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"us").as("s_us"))
      val conv = su.join(ev.filter($"event_type" === "purchase")
            .select($"user_id", $"us"), "user_id")
        .filter($"us" >= $"s_us")
        .groupBy($"user_id", $"s_us").agg(min($"us").as("p_us"))
        .select($"user_id", ($"p_us" - $"s_us").as("latency_us"))
        .withColumn("g", lit(1))
      RankSelect.discreteQuantilesCapped(conv, Seq("g"),
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)),
          "q", "n_users", 10, $"latency_us", $"user_id")
        .select($"q", $"latency_us", $"n_users")
    },

    // `q117_ltv_triangle` — the COHORT LTV TRIANGLE (round 9): revenue
    // by (first-seen cohort WEEK, weeks since first seen) —
    // q47_retention's revenue-dimension sibling, the matrix a growth
    // model fits lifetime value from. Week grain because this corpus
    // spans 30 days (a month triangle is one cell); the week number is
    // exact integer arithmetic — day-number DIV 7 off the q108 epoch
    // anchor, positive operands so truncation is floor on both engines
    // (the round-3 `//` trap stays clear) — and the cohort key emits
    // as the week's start DATE. Revenue is an exact decimal(18,6) sum
    // (the q66 value discipline) cast to double at the END, so
    // summation order cannot leak into the hash gate. Scale shape: one
    // per-user min, one join back (the q47 shape), one (cohort,
    // offset) rollup — all map-side partial.
    "q117_ltv_triangle" -> { (s, dir) =>
      import s.implicits._
      val epoch = lit("1995-01-01").cast("date")
      def weekn(c: org.apache.spark.sql.Column) =
        expr(s"CAST(datediff(${c.toString}, DATE '1995-01-01') DIV 7 AS BIGINT)")
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type", to_date($"ts").as("d"),
          $"value".cast("decimal(18,6)").as("v"))
      val cohort = ev.groupBy($"user_id").agg(min($"d").as("cd"))
      ev.filter($"event_type" === "purchase")
        .join(cohort, "user_id")
        .select($"user_id",
          date_add(epoch, (weekn($"cd") * 7).cast("int")).as("cohort_week"),
          (weekn($"d") - weekn($"cd")).as("offset_w"),
          $"v")
        .groupBy($"cohort_week", $"offset_w")
        .agg(countDistinct($"user_id").as("n_buyers"),
          count(lit(1)).as("n_purchases"),
          sum($"v").cast("double").as("revenue"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q115_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |su AS (SELECT user_id, min(us) AS s_us FROM e
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (SELECT su.user_id, min(p.us) - su.s_us AS latency_us
        |  FROM su JOIN e p ON p.user_id = su.user_id
        |    AND p.event_type = 'purchase' AND p.us >= su.s_us
        |  GROUP BY su.user_id, su.s_us),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM conv)
        |SELECT 'p50' AS q,
        |  CAST(quantile_disc(latency_us, 0.5) AS BIGINT) AS latency_us,
        |  n.n_users FROM conv, n GROUP BY n.n_users
        |UNION ALL
        |SELECT 'p90', CAST(quantile_disc(latency_us, 0.9) AS BIGINT),
        |  n.n_users FROM conv, n GROUP BY n.n_users
        |UNION ALL
        |SELECT 'p99', CAST(quantile_disc(latency_us, 0.99) AS BIGINT),
        |  n.n_users FROM conv, n GROUP BY n.n_users""".stripMargin,

    // positive day numbers keep `//` == floor (the round-3 trap note)
    "q117_ltv_triangle" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS DATE) AS d,
        |    CAST(value AS DECIMAL(18,6)) AS v FROM events),
        |f AS (SELECT user_id, min(d) AS cd FROM e GROUP BY user_id),
        |w AS (SELECT e.user_id, e.v,
        |    datediff('day', DATE '1995-01-01', f.cd) // 7 AS cw,
        |    datediff('day', DATE '1995-01-01', e.d) // 7 AS dw
        |  FROM e JOIN f USING (user_id)
        |  WHERE e.event_type = 'purchase')
        |SELECT DATE '1995-01-01' + CAST(cw * 7 AS INT) AS cohort_week,
        |  CAST(dw - cw AS BIGINT) AS offset_w,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(v) AS DOUBLE) AS revenue
        |FROM w GROUP BY 1, 2""".stripMargin
  )
}
