package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** `q116_rfm` (round 9) — RFM SEGMENTATION, the classic customer-value
  * grid (Recency / Frequency / Monetary quartile codes): per customer,
  * days since last order relative to the corpus max date (exact
  * integer DATE arithmetic — never a raw timestamp), order count, and
  * the exact-decimal spend; each dimension coded 1-4 by `ntile(4)`
  * over a DETERMINISTIC total order (best first: most recent, most
  * frequent, highest spend; custkey tiebreak) — ntile's
  * large-buckets-first distribution is SQL-standard and
  * engine-identical over an identical total order, so the codes replay
  * bit-for-bit; decimal spend casts to double only in the output (the
  * money rule). `segment` = the concatenated "rfm" code string a CRM
  * activates on.
  *
  * Scale note: the three global ntile windows sort the CUSTOMER
  * dimension (n_cust rows, 1/10th of orders here) — the q41 global-
  * window class; at 100 TB the customer dim is still dimension-sized,
  * and the RankSelect ladder is the fallback if it ever isn't. That
  * assumption is ENFORCED, not assumed (round 10, the q110 exact-
  * regime `require` pattern): the customer-table row count (a
  * parquet-metadata count, and an upper bound on the per-customer
  * frame since o_custkey references customer) must stay under the
  * single-task global-sort ceiling or the query fails loudly naming
  * the ladder fallback instead of silently serializing a fact-sized
  * sort onto one core.
  */
object RelationalQueries16 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q116_rfm" -> { (s, dir) =>
      import s.implicits._
      val nCust = Tables.rowCount(s, dir, "customer")
      require(nCust <= 20000000L,
        s"q116_rfm's global ntile windows single-task-sort the customer " +
          s"dimension, but customer has $nCust rows > the 20M guard: " +
          "switch the quartile coding to operators.RankSelect (exact " +
          "per-group rank at full parallelism) before running at this size")
      val o = Tables.load(s, dir, "orders")
        .select($"o_custkey", to_date($"o_orderdate").as("d"),
          $"o_totalprice".cast("decimal(15,2)").as("p"))
      val maxd = o.agg(max($"d").as("maxd"))
      val per = o.groupBy($"o_custkey")
        .agg(max($"d").as("last_d"), count(lit(1)).as("f"),
          sum($"p").as("m_dec"))
        .crossJoin(broadcast(maxd))
        .select($"o_custkey".as("custkey"),
          datediff($"maxd", $"last_d").cast("long").as("r_days"),
          $"f", $"m_dec")
      val wR = Window.orderBy($"r_days".asc, $"custkey".asc)
      val wF = Window.orderBy($"f".desc, $"custkey".asc)
      val wM = Window.orderBy($"m_dec".desc, $"custkey".asc)
      per.withColumn("r_q", ntile(4).over(wR).cast("long"))
        .withColumn("f_q", ntile(4).over(wF).cast("long"))
        .withColumn("m_q", ntile(4).over(wM).cast("long"))
        .select($"custkey", $"r_days", $"f",
          $"m_dec".cast("double").as("monetary"),
          $"r_q", $"f_q", $"m_q",
          concat($"r_q", $"f_q", $"m_q").as("segment"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q116_rfm" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(o_totalprice AS DECIMAL(15,2)) AS p FROM orders),
        |mx AS (SELECT max(d) AS maxd FROM o),
        |per AS (SELECT o_custkey AS custkey,
        |    CAST(datediff('day', max(d), mx.maxd) AS BIGINT) AS r_days,
        |    CAST(count(*) AS BIGINT) AS f,
        |    sum(p) AS m_dec
        |  FROM o, mx GROUP BY o_custkey, mx.maxd),
        |coded AS (SELECT custkey, r_days, f, m_dec,
        |    CAST(ntile(4) OVER (ORDER BY r_days ASC, custkey ASC) AS BIGINT)
        |      AS r_q,
        |    CAST(ntile(4) OVER (ORDER BY f DESC, custkey ASC) AS BIGINT)
        |      AS f_q,
        |    CAST(ntile(4) OVER (ORDER BY m_dec DESC, custkey ASC) AS BIGINT)
        |      AS m_q
        |  FROM per)
        |SELECT custkey, r_days, f, CAST(m_dec AS DOUBLE) AS monetary,
        |  r_q, f_q, m_q,
        |  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
        |    CAST(m_q AS VARCHAR) AS segment
        |FROM coded""".stripMargin
  )
}
