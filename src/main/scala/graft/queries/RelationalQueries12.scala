package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-7 additions: community detection and the SCD2 warehouse
  * primitive.
  *
  * `q93_label_prop` — synchronous label propagation (Raghavan et al.
  * 2007) over the part co-order graph (q92's edge build), 3 unrolled
  * rounds: every node adopts the label with the highest neighbor
  * count, ties to the SMALLEST label — all-integer counts and a total
  * tie order, so every round is bit-exact replayable (the float-free
  * graph discipline of q90/q91/q92). Scale shape: edges built once,
  * pre-partitioned on src and persisted; a round is one broadcast join
  * of the |V|-bounded label frame (preserves the edge partitioning —
  * the q92 lesson; past broadcast limits the label side flips to
  * SHUFFLE_HASH exactly like kcorePeelRound) + one (dst,label) partial
  * agg + one argmax partial agg over the ≤|E|-bounded count frame —
  * argmax as `max(struct(cnt, -label))`, decomposable, never a window
  * over the graph. 3 rounds is the fixed-depth contract; lineage grows
  * linearly (each round embeds the prior once) so no checkpoint is
  * needed at this depth.
  *
  * `q94_scd2` — slowly-changing-dimension type 2 build from the event
  * stream: per user, each run of consecutive equal `event_type`s
  * becomes one dimension version with [valid_from, valid_to) interval
  * and a version number; the live row has valid_to NULL. One window
  * partition over the HIGH-cardinality user key (no cliff), exact
  * integer epoch-micros on both engines (never raw timestamps — the
  * round-1 precision rule).
  */
object RelationalQueries12 extends graft.QueryModule {

  private val Rounds = 3

  /** One synchronous label-propagation round over a dst-partitioned
    * persisted edge frame: every node adopts its neighbors' most
    * frequent label, ties to the smallest label (integer argmax as a
    * decomposable max(struct)). `broadcastLabels = true` is the
    * measured-fast form (|V|-bounded label frame broadcasts, the round
    * is exchange-free on the edge side); past the broadcast budget the
    * caller flips to SHUFFLE_HASH — semantically identical, proven by
    * GraphRoundFallbackSpec under autoBroadcastJoinThreshold=-1.
    */
  def labelPropRound(edges: DataFrame, labels: DataFrame,
      broadcastLabels: Boolean): DataFrame = {
    import edges.sparkSession.implicits._
    val ls = labels.select($"node".as("src"), $"lbl")
    val side = if (broadcastLabels) broadcast(ls) else ls.hint("SHUFFLE_HASH")
    edges
      .join(side, "src")
      .groupBy($"dst", $"lbl").agg(count(lit(1)).as("cnt"))
      .groupBy($"dst")
      .agg(max(struct($"cnt", (-$"lbl").as("nl"))).as("m"))
      .select($"dst".as("node"), (-$"m.nl").as("lbl"))
  }

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q93_label_prop" -> { (s, dir) =>
      import s.implicits._
      // q92's edge build via the shared co-order scan artifact (round
      // 19 — GraphEdges.coorderPairs). Partition by DST, not src:
      // hash(dst) satisfies clustering for both per-round rollups
      // below ((dst,lbl) grouping and the dst argmax are both
      // dst-subsumed), so after this ONE exchange no round ever
      // re-shuffles the edge frame — the label side broadcasts and
      // broadcast joins preserve the partitioning (the q92 peel
      // lesson; naive src-partitioned form with per-round (dst,lbl)+
      // dst shuffles measured 5.1s at sf0.1 vs 2.0s for this shape)
      val edges = GraphEdges.coorderPairs(s, dir)
        .repartition($"dst")
        .persist()
      val l0 = edges.select($"dst".as("node")).distinct()
        .select($"node", $"node".as("lbl"))
      val lFinal = (1 to Rounds).foldLeft(l0) { (labels, _) =>
        labelPropRound(edges, labels, broadcastLabels = true)
      }
      lFinal.groupBy($"lbl".as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"n_members".desc, $"community".asc)
    },

    "q94_scd2" -> { (s, dir) =>
      scd2(Tables.events(s, dir))
    },

    // Point-in-time dimension lookup — the query SCD2 tables exist FOR
    // (the AS OF join against a versioned dimension): each click event
    // resolves the dimension version (built from the user's NON-click
    // activity) active at its timestamp. The versions of one user
    // partition time, so each fact matches at most one row. Scale
    // shape: ONE equi-shuffle on the high-cardinality user key; the
    // interval containment is a residual filter on the hash join (a
    // few versions per user), never a theta join.
    "q95_scd2_lookup" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val dim = scd2(ev.filter($"event_type" =!= "click"))
        .select($"user_id", $"event_type".as("dim_state"), $"version",
          $"valid_from_us", $"valid_to_us")
      val facts = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", unix_micros($"ts").as("t_us"))
      facts.join(dim, Seq("user_id"))
        .filter($"t_us" >= $"valid_from_us" &&
          ($"valid_to_us".isNull || $"t_us" < $"valid_to_us"))
        .select($"event_id", $"user_id", $"t_us", $"dim_state", $"version")
    },

    // Time-bounded funnel (the ClickHouse windowFunnel semantics q46's
    // unbounded funnel lacks): a user converts a stage only if each
    // next event lands within 1 hour of the previous one. EXISTS per
    // stage via user-keyed equi-joins with range residuals — the
    // fan-out is bounded by events-per-user on both sides of every
    // join, the time windows are exact integer micros, and the three
    // stage counts are one global aggregate.
    "q96_window_funnel" -> { (s, dir) =>
      import s.implicits._
      val T = 3600000000L // 1 hour in micros
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      def stage(t: String) = ev.filter($"event_type" === t)
      val v = stage("view").select($"user_id", $"us".as("v_us"))
      val c = stage("click").select($"user_id", $"us".as("c_us"))
      val p = stage("purchase").select($"user_id", $"us".as("p_us"))
      val s1 = v.select($"user_id").distinct()
      val vc = v.join(c, Seq("user_id"))
        .filter($"c_us" > $"v_us" && $"c_us" <= $"v_us" + T)
        .select($"user_id", $"c_us").distinct()
      val s2 = vc.select($"user_id").distinct()
      val s3 = vc.join(p, Seq("user_id"))
        .filter($"p_us" > $"c_us" && $"p_us" <= $"c_us" + T)
        .select($"user_id").distinct()
      s1.agg(count(lit(1)).as("n_stage1")).crossJoin(
        s2.agg(count(lit(1)).as("n_stage2"))).crossJoin(
        s3.agg(count(lit(1)).as("n_stage3")))
    },

    // MATCH_RECOGNIZE-style sequence detection WITH NEGATION (round 8
    // — the pattern class funnels cannot express): per user, purchases
    // completing view -> click -> purchase within 24 hours with NO
    // error event between the view and the purchase (sf0.01: 143 raw
    // chains, 100 survive the negation — the NOT genuinely bites; the
    // corpus' ~9-min inter-event spacing makes sub-hour windows
    // vacuous). Deterministic
    // matching rule: each purchase binds its LATEST preceding click,
    // which binds ITS latest preceding view ((us, event_id) struct max
    // — lexicographic, total order). The negation is O(1) per match
    // via an error-prefix-count column: errors strictly inside
    // (view, purchase) = err_pfx(purchase) - err_pfx(view) (endpoints
    // are never errors). Scale shape: ONE window pass over the
    // user-partitioned stream computes both conditional struct maxima
    // and the prefix count; then two user+id equi-joins (purchase ->
    // its click row -> its view row) — all high-cardinality keys, no
    // low-cardinality window cliff, no per-pattern self-join fan-out.
    "q98_seq_pattern" -> { (s, dir) =>
      import s.implicits._
      val T = 86400000000L // 24 h in micros (the corpus' inter-event spacing is ~9 min)
      val w = Window.partitionBy($"user_id")
        .orderBy($"us".asc, $"event_id".asc)
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wPfx = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type", $"event_id",
          unix_micros($"ts").as("us"))
        .withColumn("last_click", max(when($"event_type" === "click",
          struct($"us", $"event_id"))).over(wPrev))
        .withColumn("last_view", max(when($"event_type" === "view",
          struct($"us", $"event_id"))).over(wPrev))
        .withColumn("err_pfx", count(when($"event_type" === "error",
          lit(1))).over(wPfx))
      val purchases = ev.filter($"event_type" === "purchase" &&
          $"last_click".isNotNull)
        .select($"user_id", $"event_id".as("p_id"), $"us".as("p_us"),
          $"err_pfx".as("p_err"), $"last_click.event_id".as("c_id"))
      val clicks = ev.filter($"event_type" === "click" &&
          $"last_view".isNotNull)
        .select($"user_id", $"event_id".as("c_id"),
          $"last_view.event_id".as("v_id"))
      val views = ev.filter($"event_type" === "view")
        .select($"user_id", $"event_id".as("v_id"), $"us".as("v_us"),
          $"err_pfx".as("v_err"))
      purchases
        .join(clicks, Seq("user_id", "c_id"))
        .join(views, Seq("user_id", "v_id"))
        .filter($"p_us" - $"v_us" <= T && $"p_err" === $"v_err")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_matches"),
          min($"p_us").as("first_match_us"),
          max($"p_us").as("last_match_us"))
    },

    // Seasonal decomposition (round 8) — the classical trend/seasonal
    // split, float-free: hourly event counts gap-filled to a dense
    // series (q60's sequence recipe — a ROWS window over a gappy series
    // would silently span time gaps), trend = centered 25-hour moving
    // window, seasonality per hour-of-day from INTERIOR rows only
    // (full windows, so the rational form has one fixed denominator).
    // The seasonal index stays a RATIONAL—num = Σ(25·cnt − winsum) is
    // an order-independent integer sum (safe for negatives: no
    // truncating division touches a negative anywhere), den = 25·n —
    // with ONE IEEE division at the end; bit-exact in DuckDB. Scale
    // note: the windows run over the HOUR-downsampled series, whose
    // length grows with time span, not data volume — the heavy rollup
    // (events → hourly counts) is a partial-agg groupBy at full
    // parallelism, and the series window is bounded work by
    // construction (the q84_drawdown series discipline).
    "q99_seasonal" -> { (s, dir) =>
      import s.implicits._
      val sparse = Tables.events(s, dir)
        .select(expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy($"hr").agg(count(lit(1)).as("cnt"))
      val bounds = sparse.agg(min($"hr").as("lo"), max($"hr").as("hi"))
      val dense = bounds
        .select(explode(expr("sequence(lo, hi)")).as("hr"))
        .join(sparse, Seq("hr"), "left")
        .select($"hr", coalesce($"cnt", lit(0L)).as("cnt"))
      val w = Window.orderBy($"hr").rowsBetween(-12, 12)
      dense
        .withColumn("winsum", sum($"cnt").over(w))
        .withColumn("wincnt", count(lit(1)).over(w))
        .filter($"wincnt" === 25)
        .groupBy(($"hr" % 24).as("hour_of_day"))
        .agg(count(lit(1)).as("n_hours"),
          sum($"cnt").as("sum_cnt"),
          sum(lit(25) * $"cnt" - $"winsum").as("seasonal_num"))
        .withColumn("seasonal",
          $"seasonal_num".cast("double") / (lit(25.0) * $"n_hours"))
    },

    // MERGE INTO semantics (the Delta/Iceberg upsert statement, which
    // plain-parquet Spark lacks) as a relational operator: apply a
    // keyed changeset (insert / update / delete, one op per key) to a
    // base table in ONE pass — delete = anti semantics, update = value
    // rewrite on match, insert = new keys appended. The changeset here
    // derives deterministically from orders (heavy customers update
    // their balance by their order total, every 97th ordering customer
    // deletes, heavy keys also mint a shifted-key insert), so the
    // oracle rebuilds it bit-for-bit; money stays exact decimal until
    // the final double. Scale shape: ONE outer join on the key
    // (changeset side is pre-aggregated to one row per key) + a union
    // of the bounded insert set — never multiple passes over base.
    "q97_merge" -> { (s, dir) =>
      import s.implicits._
      val base = Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_name",
          $"c_acctbal".cast("decimal(15,2)").as("bal"))
      val byCust = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(15,2)")).as("total"))
      val changes = byCust
        .filter($"n_orders" >= 8 || $"o_custkey" % 97 === 0)
        .select($"o_custkey".as("key"),
          when($"o_custkey" % 97 === 0, lit("D"))
            .otherwise(lit("U")).as("op"),
          $"total")
      val inserts = byCust.filter($"n_orders" >= 12)
        .select(($"o_custkey" + 1000000L).as("c_custkey"),
          concat(lit("NEW#"), $"o_custkey").as("c_name"),
          $"total".cast("decimal(15,2)").as("bal"))
      base.join(changes, base("c_custkey") === changes("key"), "left")
        .filter($"op".isNull || $"op" =!= "D")
        .select($"c_custkey", $"c_name",
          when($"op" === "U", ($"bal" + $"total").cast("decimal(15,2)"))
            .otherwise($"bal").as("bal"))
        .unionByName(inserts)
        .select($"c_custkey", $"c_name", $"bal".cast("double").as("bal"))
    }
  )

  /** Shared SCD2 run-collapse (see q94 scaladoc; the incremental
    * streaming fold lives next to it in operators.Scd2).
    */
  private def scd2(events: DataFrame): DataFrame =
    graft.operators.Scd2.runs(events)

  private def lpRound(prev: String, cur: String) =
    s"""c$cur AS (
       |  SELECT e.dst, p.lbl, CAST(count(*) AS BIGINT) AS cnt
       |  FROM e JOIN $prev p ON e.src = p.node
       |  GROUP BY e.dst, p.lbl),
       |l$cur AS (
       |  SELECT dst AS node, lbl FROM c$cur
       |  QUALIFY row_number() OVER (PARTITION BY dst
       |    ORDER BY cnt DESC, lbl ASC) = 1)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "q99_seasonal" ->
      """WITH sparse AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM sparse),
        |dense AS (
        |  SELECT t.hr, coalesce(s.cnt, 0) AS cnt
        |  FROM (SELECT unnest(range(lo, hi + 1)) AS hr FROM bounds) t
        |  LEFT JOIN sparse s ON s.hr = t.hr),
        |w AS (
        |  SELECT hr, cnt,
        |    sum(cnt) OVER (ORDER BY hr
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS winsum,
        |    count(*) OVER (ORDER BY hr
        |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wincnt
        |  FROM dense)
        |SELECT hr % 24 AS hour_of_day,
        |  CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
        |  CAST(sum(25 * cnt - winsum) AS BIGINT) AS seasonal_num,
        |  CAST(sum(25 * cnt - winsum) AS DOUBLE) / (25.0 * count(*))
        |    AS seasonal
        |FROM w WHERE wincnt = 25 GROUP BY 1""".stripMargin,

    "q98_seq_pattern" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_type, event_id, us,
        |    max(CASE WHEN event_type = 'click'
        |        THEN struct_pack(us := us, eid := event_id) END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click,
        |    max(CASE WHEN event_type = 'view'
        |        THEN struct_pack(us := us, eid := event_id) END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_view,
        |    count(CASE WHEN event_type = 'error' THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS err_pfx
        |  FROM ev),
        |p AS (SELECT user_id, us AS p_us, err_pfx AS p_err,
        |        (last_click).eid AS c_id FROM w
        |      WHERE event_type = 'purchase' AND last_click IS NOT NULL),
        |c AS (SELECT user_id, event_id AS c_id, (last_view).eid AS v_id
        |      FROM w WHERE event_type = 'click' AND last_view IS NOT NULL),
        |v AS (SELECT user_id, event_id AS v_id, us AS v_us,
        |        err_pfx AS v_err FROM w WHERE event_type = 'view')
        |SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  min(p_us) AS first_match_us, max(p_us) AS last_match_us
        |FROM p JOIN c ON p.user_id = c.user_id AND p.c_id = c.c_id
        |  JOIN v ON p.user_id = v.user_id AND c.v_id = v.v_id
        |WHERE p_us - v_us <= 86400000000 AND p_err = v_err
        |GROUP BY p.user_id""".stripMargin,

    "q93_label_prop" ->
      s"""WITH e0 AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |  WHERE a.l_partkey < b.l_partkey),
         |e AS (SELECT src, dst FROM e0
         |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
         |${lpRound("l0", "1")},
         |${lpRound("l1", "2")},
         |${lpRound("l2", "3")}
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
         |FROM l3 GROUP BY lbl
         |ORDER BY n_members DESC, community ASC""".stripMargin,

    "q94_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_type, us, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS prev_type
        |  FROM ev),
        |runs AS (
        |  SELECT user_id, event_type, us, event_id FROM chg
        |  WHERE prev_type IS NULL OR prev_type != event_type)
        |SELECT user_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY us ASC, event_id ASC) AS BIGINT) AS version,
        |  us AS valid_from_us,
        |  lead(us, 1) OVER (PARTITION BY user_id
        |    ORDER BY us ASC, event_id ASC) AS valid_to_us
        |FROM runs""".stripMargin,

    "q95_scd2_lookup" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events WHERE event_type != 'click'),
        |chg AS (
        |  SELECT user_id, event_type, us, event_id,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS prev_type
        |  FROM ev),
        |runs AS (
        |  SELECT user_id, event_type, us, event_id FROM chg
        |  WHERE prev_type IS NULL OR prev_type != event_type),
        |dim AS (
        |  SELECT user_id, event_type AS dim_state,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS BIGINT) AS version,
        |    us AS valid_from_us,
        |    lead(us, 1) OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS valid_to_us
        |  FROM runs),
        |facts AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_us
        |  FROM events WHERE event_type = 'click')
        |SELECT f.event_id, f.user_id, f.t_us, d.dim_state, d.version
        |FROM facts f JOIN dim d ON f.user_id = d.user_id
        |WHERE f.t_us >= d.valid_from_us
        |  AND (d.valid_to_us IS NULL OR f.t_us < d.valid_to_us)""".stripMargin,

    "q96_window_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, us AS v_us FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id, us AS c_us FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, us AS p_us FROM ev WHERE event_type = 'purchase'),
        |s1 AS (SELECT DISTINCT user_id FROM v),
        |vc AS (SELECT DISTINCT v.user_id, c.c_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |  WHERE c.c_us > v.v_us AND c.c_us <= v.v_us + 3600000000),
        |s2 AS (SELECT DISTINCT user_id FROM vc),
        |s3 AS (SELECT DISTINCT vc.user_id
        |  FROM vc JOIN p ON vc.user_id = p.user_id
        |  WHERE p.p_us > vc.c_us AND p.p_us <= vc.c_us + 3600000000)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_stage1,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_stage2,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_stage3""".stripMargin,

    "q97_merge" ->
      """WITH bc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DECIMAL(15,2))
        |      AS total
        |  FROM orders GROUP BY o_custkey),
        |changes AS (
        |  SELECT o_custkey AS key,
        |    CASE WHEN o_custkey % 97 = 0 THEN 'D' ELSE 'U' END AS op, total
        |  FROM bc WHERE n_orders >= 8 OR o_custkey % 97 = 0),
        |ins AS (
        |  SELECT o_custkey + 1000000 AS c_custkey,
        |    'NEW#' || CAST(o_custkey AS VARCHAR) AS c_name,
        |    total AS bal
        |  FROM bc WHERE n_orders >= 12),
        |merged AS (
        |  SELECT b.c_custkey, b.c_name,
        |    CASE WHEN c.op = 'U'
        |      THEN CAST(CAST(b.c_acctbal AS DECIMAL(15,2)) + c.total
        |        AS DECIMAL(15,2))
        |      ELSE CAST(b.c_acctbal AS DECIMAL(15,2)) END AS bal
        |  FROM customer b LEFT JOIN changes c ON b.c_custkey = c.key
        |  WHERE c.op IS NULL OR c.op != 'D')
        |SELECT c_custkey, c_name, CAST(bal AS DOUBLE) AS bal FROM merged
        |UNION ALL
        |SELECT c_custkey, c_name, CAST(bal AS DOUBLE) AS bal FROM ins""".stripMargin
  )
}
