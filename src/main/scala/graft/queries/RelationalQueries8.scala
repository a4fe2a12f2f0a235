package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Eighth relational wave (SURVEY.md §2.2): the semi-structured VARIANT
  * ingestion path, blocking-based entity resolution, incremental
  * aggregation maintenance, and the portable-SQL entry point.
  */
object RelationalQueries8 extends graft.QueryModule {

  /** ONE ANSI-portable SQL string that is simultaneously the Spark
    * query (via spark.sql over registered views) and the DuckDB oracle
    * — the strongest possible statement that the engine's SQL surface
    * matches: identical text, identical result hash. Exercises CTEs,
    * grouped HAVING, an equi-join, and a ranked window with full
    * tie-breaking (no floating aggregation, so exactness is free).
    */
  private val portableSql: String =
    """WITH big AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |    max(o_totalprice) AS max_price
      |  FROM orders GROUP BY o_custkey HAVING count(*) >= 2),
      |r AS (
      |  SELECT c_nationkey, c_custkey, n_orders, max_price,
      |    CAST(row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY n_orders DESC, max_price DESC, c_custkey)
      |      AS INT) AS rk
      |  FROM big JOIN customer ON c_custkey = o_custkey)
      |SELECT c_nationkey, c_custkey, n_orders, max_price, rk
      |FROM r WHERE rk <= 3""".stripMargin

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // semi-structured ingestion via Spark 4's VARIANT type: parse the
    // JSON props column ONCE into the binary variant encoding, then do
    // typed path extraction on the variant — at 100 TB this is the
    // scale path for ragged JSON (single parse, cheap repeated access,
    // shredding-friendly) vs re-parsing strings per extraction
    // (q30_json's get_json_object). Output: distribution of the
    // extracted metric per event type over value deciles.
    "q64_variant" -> { (s, dir) =>
      import s.implicits._
      val v = parse_json($"props")
      Tables.events(s, dir)
        .select($"event_type",
          variant_get(v, "$.k", "long").as("k"))
        .filter($"k".isNotNull)
        // integer `div`, not Column./ (double division) — keeps the
        // bucket arithmetic exact on both engines
        .withColumn("decile", expr("k div 10"))
        .groupBy($"event_type", $"decile")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          min($"k").as("min_k"), max($"k").as("max_k"))
    },

    // blocking-based entity resolution over part names: canonicalize to
    // DISTINCT name strings first (a massive reduction — dedup before
    // comparison is what makes ER feasible at 100 TB), block on the
    // leading token so only same-block names are compared, verify each
    // candidate with exact edit distance (1..3 — identical strings are
    // not a "match", they are the same entity), then weight each
    // surviving pair by its member counts. The quadratic step runs on
    // distinct names per block, never on the raw table.
    "q65_entity_match" -> { (s, dir) =>
      import s.implicits._
      val names = Tables.load(s, dir, "part")
        .groupBy($"p_name").agg(count(lit(1)).as("members"))
        .withColumn("block", split($"p_name", " ").getItem(0))
      val a = names.select($"block", $"p_name".as("name_a"),
        $"members".as("n_a"))
      val b = names.select($"block", $"p_name".as("name_b"),
        $"members".as("n_b"))
      a.join(b, Seq("block"))
        .filter($"name_a" < $"name_b")
        .withColumn("dist", levenshtein($"name_a", $"name_b"))
        .filter($"dist".between(1, 3))
        .select($"name_a", $"name_b", $"dist", $"n_a", $"n_b",
          ($"n_a" * $"n_b").as("pair_weight"))
    },

    // incremental aggregation maintenance: the first half of the month
    // is aggregated into a partial state, the second half arrives as a
    // delta, and operators.IncrementalAgg folds the two — the result
    // must be bit-identical to the oracle's one-shot full-table
    // aggregate. Exact decimals through the merge; doubles derived at
    // the end only (avg = sum/count at read time).
    "q66_incremental_agg" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.IncrementalAgg
      import graft.operators.IncrementalAgg.Agg
      val ev = Tables.events(s, dir)
        .select($"event_type", to_date($"ts").as("day"),
          $"value".cast("decimal(18,6)").as("v"))
      val aggs = Seq(
        Agg("n", "count", lit(1)),
        Agg("sum_v", "sum", $"v"),
        Agg("min_v", "min", $"v"),
        Agg("max_v", "max", $"v"))
      val cutoff = lit("2024-01-16").cast("date")
      val keys = Seq("event_type")
      val state = IncrementalAgg.partial(ev.filter($"day" < cutoff), keys, aggs)
      val delta = IncrementalAgg.partial(ev.filter($"day" >= cutoff), keys, aggs)
      IncrementalAgg.merge(state, delta, keys, aggs)
        .select($"event_type", $"n",
          $"sum_v".cast("double").as("sum_v"),
          $"min_v".cast("double").as("min_v"),
          $"max_v".cast("double").as("max_v"),
          ($"sum_v".cast("double") / $"n".cast("double")).as("avg_v"))
    },

    // portable-SQL entry point: the exact oracle string runs through
    // spark.sql over the registered views — SQL-surface parity by
    // construction (Catalyst still plans it: broadcast join + partial
    // aggs + WindowGroupLimit, see PlanAuditSpec)
    "q67_sql" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(portableSql)
    },

    // per-group discrete quartile vector in ONE pass: RankSelect's
    // multi-rank selection emits p25/p50/p75 per order priority from a
    // single range shuffle — the SQL idiom costs a full per-group
    // window sort (5-task cliff) and quantile_disc re-scans; exact
    // ceil(n*q) integer rank rule matches DuckDB's quantile_disc
    "q68_group_quantiles" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.RankSelect
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderpriority", $"o_orderkey",
          $"o_totalprice".cast("decimal(15,2)").as("v"))
      RankSelect.discreteQuantilesCapped(o, Seq("o_orderpriority"),
          Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L)),
          "q", "n", 10000, $"v", $"o_orderkey")
        .select($"o_orderpriority", $"q", $"v".cast("double").as("price"),
          $"n")
    },

    // time-series similarity search: which users' daily activity series
    // correlate most with user 0's? Pearson over the aligned daily grid
    // from exact INTEGER moments — n is the global day count, missing
    // days contribute 0 to every sum, and the cross term only needs a
    // sparse join on shared active days, so no dense grid and no
    // per-user window is ever materialized. One double conversion at
    // the end (q34's cross-engine float discipline); zero-variance
    // users excluded by integer compare. Reference side is tiny ->
    // broadcast; the scan over users is one aggregation.
    "q69_ts_similarity" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.events(s, dir)
        .groupBy($"user_id", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("c"))
        .persist()
      try {
        // one driver action for all three scalars (day count + both
        // reference moments); a missing reference user leaves the sums
        // NULL -> zero variance -> the varY filter yields empty, the
        // same graceful no-rows the oracle produces
        val stats = daily.agg(
          countDistinct($"day").as("n"),
          sum(when($"user_id" === 0, $"c")).as("sy"),
          sum(when($"user_id" === 0, $"c" * $"c")).as("sy2")).head()
        val n = stats.getLong(0)
        val sy = if (stats.isNullAt(1)) 0L else stats.getLong(1)
        val sy2 = if (stats.isNullAt(2)) 0L else stats.getLong(2)
        val ref = daily.filter($"user_id" === 0)
          .select($"day", $"c".as("y"))
        val joined = daily.filter($"user_id" =!= 0)
          .join(broadcast(ref), Seq("day"), "left")
          .groupBy($"user_id")
          .agg(sum($"c").as("sx"), sum($"c" * $"c").as("sx2"),
            sum($"c" * coalesce($"y", lit(0L))).as("sxy"))
        val varX = lit(n) * $"sx2" - $"sx" * $"sx"
        val varY = lit(n * sy2 - sy * sy)
        val top = joined
          .filter(varX > 0 && varY > 0)
          .withColumn("corr",
            (lit(n) * $"sxy" - $"sx" * lit(sy)).cast("double") /
              (sqrt(varX.cast("double")) * sqrt(varY.cast("double"))))
          .orderBy($"corr".desc, $"user_id".asc)
          .limit(5)
          .select($"user_id", $"sx", $"corr")
        // materialize the 5-row result before releasing the cached
        // daily frame (same no-leak contract as q63)
        val rows = top.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), top.schema)
      } finally daily.unpersist()
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q64_variant" ->
      """SELECT event_type,
        |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
        |    AS BIGINT) AS decile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |WHERE json_extract_string(props, '$.k') IS NOT NULL
        |GROUP BY event_type, decile""".stripMargin,

    "q65_entity_match" ->
      """WITH names AS (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS members,
        |    string_split(p_name, ' ')[1] AS block
        |  FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
        |  a.members AS n_a, b.members AS n_b,
        |  a.members * b.members AS pair_weight
        |FROM names a JOIN names b
        |  ON a.block = b.block AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3""".stripMargin,

    // one-shot full-table aggregate: the merged incremental state must
    // hash-match this exactly
    "q66_incremental_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v,
        |  CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_v,
        |  CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_v
        |FROM events GROUP BY event_type""".stripMargin,

    "q67_sql" -> portableSql,

    "q68_group_quantiles" -> Seq("p25" -> "0.25", "p50" -> "0.5", "p75" -> "0.75")
      .map { case (l, f) =>
        s"""SELECT o_orderpriority, '$l' AS q,
           |  CAST(quantile_disc(CAST(o_totalprice AS DECIMAL(15,2)), $f)
           |    AS DOUBLE) AS price,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM orders GROUP BY o_orderpriority""".stripMargin
      }.mkString("\nUNION ALL\n"),

    "q69_ts_similarity" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id, day),
        |n AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n FROM daily),
        |ref AS (SELECT day, c AS y FROM daily WHERE user_id = 0),
        |refstats AS (
        |  SELECT CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(y * y) AS BIGINT) AS sy2 FROM ref),
        |m AS (
        |  SELECT d.user_id, CAST(sum(d.c) AS BIGINT) AS sx,
        |    CAST(sum(d.c * d.c) AS BIGINT) AS sx2,
        |    CAST(sum(d.c * coalesce(r.y, 0)) AS BIGINT) AS sxy
        |  FROM daily d LEFT JOIN ref r ON d.day = r.day
        |  WHERE d.user_id <> 0 GROUP BY d.user_id)
        |SELECT user_id, sx,
        |  CAST(n.n * sxy - sx * rs.sy AS DOUBLE) /
        |    (sqrt(CAST(n.n * sx2 - sx * sx AS DOUBLE))
        |     * sqrt(CAST(n.n * rs.sy2 - rs.sy * rs.sy AS DOUBLE))) AS corr
        |FROM m CROSS JOIN n CROSS JOIN refstats rs
        |WHERE n.n * sx2 - sx * sx > 0 AND n.n * rs.sy2 - rs.sy * rs.sy > 0
        |ORDER BY corr DESC, user_id ASC LIMIT 5""".stripMargin
  )
}
