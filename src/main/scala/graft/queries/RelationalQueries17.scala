package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 relational/event additions.
  *
  * `q118_survival` — Kaplan-Meier survival over user lifetimes: the
  * churn curve every retention report needs beyond q47's cohort grid.
  * Lifetime t_u = days between a user's first and last event (day
  * grain); a user whose last event falls on the corpus' final global
  * day is CENSORED (still alive at observation end — the standard
  * right-censoring rule), everyone else is an event ("churned at t").
  * KM: S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}) with d = events at t' and
  * n = risk set (users with lifetime ≥ t').
  *
  * Cross-engine float discipline: the product is an ORDERED
  * LEFT-TO-RIGHT fold — each ratio is ONE IEEE division (exact
  * integers in, deterministic double out) and IEEE multiplication is
  * deterministic, so an identically-ordered fold is bit-exact on both
  * engines (the ann_pq list_reduce rule; Spark's init-1.0 aggregate
  * equals DuckDB's elem-1-init list_reduce because 1.0·x == x
  * exactly). Censoring-only times contribute ratio 1 − 0/n = 1.0, a
  * bit-exact no-op, so every emitted t rides the same product.
  *
  * Scale shape: one user_id-keyed groupBy (high cardinality, partial
  * aggs), then everything else runs on the ≤(observed-days) frame —
  * the risk-set and product self-joins touch ~30 rows however large
  * the corpus; no windows over big frames, no driver loops.
  *
  * `q119_stationary` — the stationary distribution of q79's event-type
  * transition matrix via 8 unrolled power-iteration rounds — "where
  * does user behavior settle": the long-run occupancy of each event
  * type. INTEGER FIXED-POINT throughout (the q90 pagerank discipline):
  * ranks in micro-units (start 1,000,000 per state), one round is
  * rank'_t = Σ_s (rank_s · c_{s→t}) DIV c_s — truncating BIGINT
  * division of non-negative operands == DuckDB `//`, and integer sums
  * are order-independent, so every round is bit-exact replayable.
  * Truncation leaks ≤1 micro-unit per (s,t) edge per round —
  * deterministic on both engines, not drift. Scale: the transition
  * matrix is (event-types)²-bounded (25 rows); each round is a
  * broadcast join + one partial-agg groupBy over it — the per-user
  * sequencing window (high-cardinality partition key) is the only
  * big-data pass.
  *
  * `q121_stickiness` — DAU/MAU(28) per day from one segment-bitmap
  * rollup (see the entry's inline comment).
  *
  * `q120_seq_mining` — frequent contiguous 3-event sequences
  * (PrefixSpan-lite at fixed depth): support of every (e1, e2, e3)
  * event-type trigram over per-user time-ordered streams, global
  * top-20. q98 checks ONE pattern; this MINES the pattern table.
  * Plan: two leads over the user_id window (high-cardinality
  * partitions), a (e1,e2,e3)-keyed count (≤|types|³ = 125 groups,
  * map-side partials), and the global top-k is orderBy+limit →
  * TakeOrderedAndProject (per-partition top-k, NO global sort — the
  * text_zipf_audit discipline). Tie-break (support desc, e1, e2, e3)
  * makes the limit a total order, so the top-20 set is deterministic.
  */
object RelationalQueries17 extends graft.QueryModule {

  /** Power-iteration depth (fixed-depth contract, the q90/q70 knob). */
  private val StatRounds = 8

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q118_survival" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"ts".cast("date").as("day"))
      val life = ev.groupBy($"user_id")
        .agg(min($"day").as("f"), max($"day").as("l"))
      val maxDay = ev.agg(max($"day").as("max_day"))
      val lt = life.crossJoin(broadcast(maxDay))
        .select($"user_id", datediff($"l", $"f").cast("long").as("t"),
          when($"l" < $"max_day", 1L).otherwise(0L).as("is_event"))
      // the KM tail (risk sets + ordered product fold) is the SHARED
      // operators.Survival.kmCurve — one definition with the streaming
      // survivalFrom consumer, so streamed == batch cannot drift
      graft.operators.Survival.kmCurve(lt)
    },

    "q119_stationary" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
      val pairs = Tables.events(s, dir)
        .select($"user_id", $"event_type",
          unix_micros($"ts").as("us"), $"event_id")
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"event_type".as("src"), $"nxt".as("dst"))
        .agg(count(lit(1)).as("c"))
      val tot = pairs.groupBy($"src").agg(sum($"c").as("ctot"))
      val trans = pairs.join(broadcast(tot), "src")
        .select($"src", $"dst", $"c", $"ctot")
      // the iteration itself is the SHARED Markov.stationaryRanks —
      // one definition with StreamingOps.stationaryFrom, so the
      // streamed-equals-batch contract cannot drift
      graft.operators.Markov.stationaryRanks(trans, StatRounds)
    },

    // `q121_stickiness` — DAU/MAU(28) stickiness per day, the product
    // engagement ratio: daily exact distinct users over the trailing
    // 28-day exact distinct, both re-merged from ONE (day, seg, bits)
    // segment-bitmap rollup (the q102/q108 re-mergeability claim cashed
    // at a second window width — the fact table is touched once; the
    // trailing window is an explode-28 postings join, gappy days post
    // nothing). All integers until the single stickiness division;
    // mau28 ≥ dau ≥ 1 on every emitted day (the day posts to itself),
    // so the denominator cannot be zero. State per window =
    // live-keyspace/32 words — the 100 TB shape.
    "q121_stickiness" -> { (s, dir) =>
      import s.implicits._
      val segDay = Tables.events(s, dir)
        .select($"ts".cast("date").as("day"), $"user_id")
        .select(datediff($"day", lit("1995-01-01").cast("date")).cast("long")
          .as("dayn"), $"day",
          expr("user_id DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bitval"))
        .groupBy($"dayn", $"day", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
        .persist() // the DAU rollup and the 28-day posting both read it
      val dau = segDay.groupBy($"dayn", $"day")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("dau"))
      val posted = segDay.select($"seg", $"bits", $"dayn",
          explode(sequence(lit(0L), lit(27L))).as("off"))
        .select(($"dayn" + $"off").as("target_dayn"), $"seg", $"bits")
      val days = segDay.select($"dayn".as("target_dayn")).distinct()
      val mau = posted.join(days, "target_dayn")
        .groupBy($"target_dayn", $"seg")
        .agg(expr("bit_or(bits)").as("wbits"))
        .groupBy($"target_dayn")
        .agg(sum(expr("bit_count(wbits)")).cast("long").as("mau28"))
      dau.join(mau, $"dayn" === $"target_dayn")
        .select($"day", $"dau", $"mau28",
          ($"dau".cast("double") / $"mau28".cast("double")).as("stickiness"))
    },

    "q120_seq_mining" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
      Tables.events(s, dir)
        .select($"user_id", $"event_type",
          unix_micros($"ts").as("us"), $"event_id")
        .withColumn("e2", lead($"event_type", 1).over(w))
        .withColumn("e3", lead($"event_type", 2).over(w))
        .filter($"e3".isNotNull)
        .groupBy($"event_type".as("e1"), $"e2", $"e3")
        .agg(count(lit(1)).as("support"))
        .orderBy($"support".desc, $"e1".asc, $"e2".asc, $"e3".asc)
        .limit(20)
    },

    // `q122_holt` — Holt's LINEAR-TREND exponential smoothing per
    // event type over the daily-volume series (q74_ewma's sibling
    // with a trend component — the level-only EWMA lags every ramp by
    // construction; Holt tracks it), plus the 1/2/3-day-ahead
    // forecasts level + h·trend that are the method's whole point.
    // α = β = 1/2 (binary fractions — 0.5·x is an exact IEEE exponent
    // shift). Cross-engine parity by the ordered STRUCT fold: the
    // (level, trend) pair folds left-to-right in day order — Spark
    // aggregate(slice(2..n), struct(x₁, 0)) == DuckDB list_reduce over
    // struct-transformed lists (elem-1 init), every operation one
    // fixed IEEE tree (the q118 product-fold rule extended to struct
    // state). Scale: one (type, day) rollup with map-side partials,
    // then the fold runs on ≤|types| arrays of ≤days elements.
    "q122_holt" -> { (s, dir) =>
      import s.implicits._
      // THE committed recurrence, shared textually with the oracle:
      //   l' = 0.5·x + 0.5·(l + b)
      //   b' = 0.25·x − 0.25·l + 0.75·b   (the β-expansion of
      //        0.5·(l' − l) + 0.5·b — committed in EXPANDED form so
      //        neither field references the other's result: DuckDB
      //        1.0's list_reduce mutates a STRUCT accumulator in
      //        place field-by-field, so a b-field reading acc.l would
      //        see the NEW l there; the oracle therefore folds a
      //        [l, b] LIST accumulator, and both engines evaluate
      //        these two independent trees)
      val upd = "named_struct(" +
        "'l', 0.5D * e.x + 0.5D * (acc.l + acc.b), " +
        "'b', 0.25D * e.x - 0.25D * acc.l + 0.75D * acc.b)"
      Tables.events(s, dir)
        .groupBy($"event_type", $"ts".cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .groupBy($"event_type")
        .agg(array_sort(collect_list(struct($"day", $"x"))).as("sx"))
        .select($"event_type", size($"sx").cast("long").as("n_days"),
          expr(s"""aggregate(slice(sx, 2, size(sx) - 1),
            named_struct('l', element_at(sx, 1).x, 'b', CAST(0.0 AS DOUBLE)),
            (acc, e) -> $upd)""").as("st"))
        .select($"event_type", $"n_days",
          $"st.l".as("level"), $"st.b".as("trend"),
          ($"st.l" + $"st.b").as("forecast_1"),
          ($"st.l" + lit(2.0) * $"st.b").as("forecast_2"),
          ($"st.l" + lit(3.0) * $"st.b").as("forecast_3"))
    },

    // `q123_absorption` — ABSORBING-CHAIN conversion probability: for
    // each starting event type, the probability of reaching 'purchase'
    // within 8 transitions under q79's empirical kernel — the
    // funnel-free "how convertible is a user in state s" number
    // (q115 measures realized latency; this is the model-based
    // reachability). Backward induction in integer fixed-point
    // micro-units (the q119/Markov discipline): p₀ = 1e6 on the
    // absorbing state, pₖ(s) = Σ_t c_st·pₖ₋₁(t) DIV ctot_s with ONE
    // truncating division per (state, round) AFTER the exact integer
    // sum (leaks less than per-edge division, deterministically on
    // both engines); the absorbing state overrides to 1e6 every round
    // (its empirical outgoing edges are ignored by definition).
    // Monotone non-decreasing in k by construction. Scale: the
    // |types|²-bounded kernel is the only state; rounds are broadcast
    // joins + a ≤|types|-group aggregate.
    "q123_absorption" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
      val pairs = Tables.events(s, dir)
        .select($"user_id", $"event_type",
          unix_micros($"ts").as("us"), $"event_id")
        .withColumn("nxt", lead($"event_type", 1).over(w))
        .filter($"nxt".isNotNull)
        .groupBy($"event_type".as("src"), $"nxt".as("dst"))
        .agg(count(lit(1)).as("c"))
      val tot = pairs.groupBy($"src").agg(sum($"c").as("ctot"))
      val trans = pairs.join(broadcast(tot), "src")
        .select($"src", $"dst", $"c", $"ctot")
        .persist()
      val states = trans.select($"src".as("state"))
        .union(trans.select($"dst".as("state"))).distinct().persist()
      val p0 = states.select($"state",
        when($"state" === "purchase", 1000000L).otherwise(0L).as("p"))
      val pK = (1 to StatRounds).foldLeft(p0) { (p, _) =>
        val reach = trans
          .join(broadcast(p.withColumnRenamed("state", "dst")), "dst")
          .groupBy($"src".as("state"))
          .agg(sum($"c" * $"p").as("sp"), max($"ctot").as("ct"))
        states.join(broadcast(reach), Seq("state"), "left")
          .select($"state",
            when($"state" === "purchase", 1000000L)
              .otherwise(coalesce(expr("sp DIV ct"), lit(0L))).as("p"))
      }
      pK.select($"state", $"p".as("p_absorb_micro"))
    }
  )

  /** One unrolled power-iteration round as a DuckDB CTE: rank'_t =
    * Σ_s (rank_s · c) // ctot with sink-only states coalesced to 0 —
    * the exact Spark round above.
    */
  private def statRoundSql(prev: String, out: String): String =
    s"""$out AS (SELECT s.state,
       |    CAST(coalesce(sum((r.rank * tr.c) // tr.ctot), 0) AS BIGINT)
       |      AS rank
       |  FROM st s
       |  LEFT JOIN tr ON tr.dst = s.state
       |  LEFT JOIN $prev r ON tr.src = r.state
       |  GROUP BY s.state)""".stripMargin

  /** One unrolled backward-induction round: pₖ(s) = Σ_t c·pₖ₋₁(t)
    * // ctot_s, absorbing state overridden to 1e6 — the exact Spark
    * round in q123_absorption.
    */
  private def absRoundSql(prev: String, out: String): String =
    s"""$out AS (SELECT s.state,
       |    CASE WHEN s.state = 'purchase' THEN CAST(1000000 AS BIGINT)
       |    ELSE CAST(coalesce(sum(tr.c * p.p) // max(tr.ctot), 0)
       |      AS BIGINT) END AS p
       |  FROM st s
       |  LEFT JOIN tr ON tr.src = s.state
       |  LEFT JOIN $prev p ON tr.dst = p.state
       |  GROUP BY s.state)""".stripMargin

  /** The shared seq → transition-kernel CTE prefix (q119 / q123). */
  private val kernelCtes: String =
    """seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS next_type
      |  FROM events),
      |p AS (SELECT event_type AS src, next_type AS dst,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM seq WHERE next_type IS NOT NULL GROUP BY src, dst),
      |t AS (SELECT src, CAST(sum(c) AS BIGINT) AS ctot FROM p GROUP BY src),
      |tr AS (SELECT p.src, p.dst, p.c, t.ctot FROM p JOIN t USING (src)),
      |st AS (SELECT DISTINCT src AS state FROM p
      |  UNION SELECT DISTINCT dst FROM p)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "q118_survival" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |life AS (SELECT user_id, min(day) AS f, max(day) AS l
        |  FROM ev GROUP BY user_id),
        |mx AS (SELECT max(day) AS max_day FROM ev),
        |lt AS (SELECT user_id,
        |    CAST(datediff('day', f, l) AS BIGINT) AS t,
        |    CASE WHEN l < (SELECT max_day FROM mx) THEN 1 ELSE 0 END
        |      AS is_event
        |  FROM life),
        |byt AS (SELECT t, CAST(sum(is_event) AS BIGINT) AS d,
        |    CAST(sum(1 - is_event) AS BIGINT) AS c
        |  FROM lt GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lt),
        |rm AS (SELECT a.t,
        |    CAST(coalesce(sum(b.d + b.c), 0) AS BIGINT) AS removed
        |  FROM byt a LEFT JOIN byt b ON b.t < a.t GROUP BY a.t),
        |km AS (SELECT byt.t, byt.d, byt.c,
        |    (SELECT n_total FROM tot) - rm.removed AS n_risk,
        |    CAST(1 AS DOUBLE) - CAST(byt.d AS DOUBLE)
        |      / CAST((SELECT n_total FROM tot) - rm.removed AS DOUBLE)
        |      AS ratio
        |  FROM byt JOIN rm ON byt.t = rm.t)
        |SELECT a.t, a.n_risk, a.d, a.c,
        |  list_reduce(list(b.ratio ORDER BY b.t), (ga, gb) -> ga * gb)
        |    AS surv
        |FROM km a JOIN km b ON b.t <= a.t
        |GROUP BY a.t, a.n_risk, a.d, a.c""".stripMargin,

    "q119_stationary" -> {
      val rounds = (1 to StatRounds)
        .map(i => statRoundSql(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
        .mkString(",\n")
      s"""WITH $kernelCtes,
         |r0 AS (SELECT state, CAST(1000000 AS BIGINT) AS rank FROM st),
         |$rounds
         |SELECT state, rank AS rank_micro FROM r$StatRounds""".stripMargin
    },

    "q122_holt" -> {
      // [l, b] LIST accumulator, NOT a struct: DuckDB 1.0's
      // list_reduce mutates struct accumulators in place per field
      // (the b expression would read the already-updated l) —
      // probed; list accumulators evaluate both elements from the
      // incoming acc. Same two expression trees as the Spark fold.
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(count(*) AS DOUBLE) AS x
         |  FROM events GROUP BY 1, 2),
         |sx AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |    list_reduce(
         |      list_transform(list(x ORDER BY day),
         |        gx -> [gx, CAST(0.0 AS DOUBLE)]),
         |      (acc, e) -> [
         |        CAST(0.5 AS DOUBLE) * e[1]
         |          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |        CAST(0.25 AS DOUBLE) * e[1]
         |          - CAST(0.25 AS DOUBLE) * acc[1]
         |          + CAST(0.75 AS DOUBLE) * acc[2]]) AS st
         |  FROM daily GROUP BY event_type)
         |SELECT event_type, n_days, st[1] AS level, st[2] AS trend,
         |  st[1] + st[2] AS forecast_1,
         |  st[1] + CAST(2.0 AS DOUBLE) * st[2] AS forecast_2,
         |  st[1] + CAST(3.0 AS DOUBLE) * st[2] AS forecast_3
         |FROM sx""".stripMargin
    },

    "q123_absorption" -> {
      val rounds = (1 to StatRounds)
        .map(i => absRoundSql(if (i == 1) "p0" else s"p${i - 1}", s"p$i"))
        .mkString(",\n")
      s"""WITH $kernelCtes,
         |p0 AS (SELECT state,
         |    CASE WHEN state = 'purchase' THEN CAST(1000000 AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS p
         |  FROM st),
         |$rounds
         |SELECT state, p AS p_absorb_micro FROM p$StatRounds""".stripMargin
    },

    "q121_stickiness" ->
      """WITH sd AS (SELECT
        |    CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS dayn,
        |    CAST(ts AS DATE) AS day,
        |    user_id // 32 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM events GROUP BY 1, 2, 3),
        |dau AS (SELECT dayn, day, CAST(sum(bit_count(bits)) AS BIGINT)
        |    AS dau FROM sd GROUP BY 1, 2),
        |posted AS (SELECT dayn + off AS target_dayn, seg, bits
        |  FROM sd CROSS JOIN (SELECT unnest(range(0, 28)) AS off)),
        |days AS (SELECT DISTINCT dayn AS target_dayn FROM sd),
        |w AS (SELECT target_dayn, seg, bit_or(bits) AS wbits
        |  FROM posted JOIN days USING (target_dayn)
        |  GROUP BY 1, 2),
        |mau AS (SELECT target_dayn, CAST(sum(bit_count(wbits)) AS BIGINT)
        |    AS mau28 FROM w GROUP BY 1)
        |SELECT day, dau, mau28,
        |  CAST(dau AS DOUBLE) / CAST(mau28 AS DOUBLE) AS stickiness
        |FROM dau JOIN mau ON dau.dayn = mau.target_dayn""".stripMargin,

    "q120_seq_mining" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS e3
        |  FROM events)
        |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS support
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY support DESC, e1 ASC, e2 ASC, e3 ASC
        |LIMIT 20""".stripMargin
  )
}
