package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 relational additions, wave 3 — the experimentation /
  * statistical-testing surface.
  *
  * `q105_ab_test` — two-proportion z-test for an A/B experiment:
  * variant = user_id % 2 (deterministic assignment — replayable, no
  * RNG), conversion = the user is a power purchaser (>= 14). The z
  * statistic is ONE fixed IEEE expression tree over exact integer
  * counts — divisions, multiplications and a correctly-rounded sqrt
  * only (the no-pow/log discipline; the p-value needs erf, which is
  * NOT cross-engine bit-stable, so the query reports the statistic
  * and leaves the threshold to the caller — |z| > 1.96 is the 95%
  * line). Scale: one partial-agg user rollup, then a 2-row variant
  * rollup; the statistic assembles on a 1-row frame.
  *
  * `q106_ks_test` — two-sample Kolmogorov-Smirnov D between the
  * pre-/post-1998 daily order-volume distributions (dq_drift's era
  * split, nonparametric form). EVERYTHING is integer: the sample
  * points are daily counts (small ints), the ECDF gap is
  * cross-multiplied — D = max |cum1·n2 − cum2·n1| / (n1·n2) — so the
  * max and its argmax are exact; one double division renders D at
  * the end. The ECDF windows run over the VALUE grid of distinct
  * daily counts (tens of rows — the downsample-then-window rule
  * twice over: days bound the rollup, distinct counts bound the
  * grid). Tie on the argmax resolves to the smallest value via
  * lexicographic struct max with negated value.
  */
object RelationalQueries15 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // `dq_benford` — Benford first-digit audit (round 8, the classic
    // fabricated-numbers screen): first significant digit of
    // o_totalprice vs Benford's log10(1+1/d) law. The law needs log —
    // banned as a cross-engine FUNCTION (libm rounding differs), but
    // perfectly portable as nine LITERAL double constants (a decimal
    // literal parses to the same correctly-rounded double on both
    // engines); chi-square contributions then follow the dq_drift
    // fixed-tree discipline. First digit via regexp on the decimal's
    // string rendering (both engines render DECIMAL(15,2) as plain
    // '12345.67'). On THIS synthetic near-uniform price column the
    // audit fires loudly — which is the point: a Benford screen
    // exists to flag non-naturally-distributed numbers.
    "dq_benford" -> { (s, dir) =>
      import s.implicits._
      val law = Seq(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514)
      val lawCol = law.zipWithIndex.foldRight(lit(0.0)) {
        case ((p, i), acc) => when($"d" === (i + 1), p).otherwise(acc)
      }
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(s, dir, "orders")
        .select(regexp_extract($"o_totalprice".cast("string"),
          "([1-9])", 1).cast("long").as("d"))
        // a 0.00 value has no significant digit (null d) — excluded,
        // or its zero expected share divides by zero under ANSI
        .filter($"d".isNotNull)
        .groupBy($"d").agg(count(lit(1)).as("o"))
        .withColumn("n", sum($"o").over(wAll))
        .withColumn("expected_share", lawCol)
        .withColumn("e", $"n".cast("double") * $"expected_share")
        .select($"d", $"o", $"n", $"expected_share", $"e",
          (($"o".cast("double") - $"e") * ($"o".cast("double") - $"e") /
            $"e").as("chi2_contrib"))
    },

    // `dq_skew_report` — join-key skew audit (round 8, the "should I
    // salt this join" report q21's salted join presumes someone ran):
    // per candidate key column of lineitem — distinct keys, rows, the
    // heaviest key's row count and share, and the p99 key size. Key
    // sizes aggregate to a COUNT-OF-COUNTS grid (the value-grid
    // trick), so the p99 is an exact integer selection over a tiny
    // frame — smallest size whose cumulative key share reaches 99%,
    // cross-multiplied (100·cum ≥ 99·K, no float ratio). One rollup +
    // one grid per column; the only double is the final top-1 share.
    "dq_skew_report" -> { (s, dir) =>
      import s.implicits._
      // per-column PRUNED parquet scans (round 20, the dq_profile
      // lesson / guide §6): the old full-width lineitem persist
      // materialized all 16 columns to feed three single-column
      // rollups — three pruned columnar scans read the same one
      // column each directly and skip the cache build entirely
      val frames = Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
        val grid = Tables.load(s, dir, "lineitem").select(col(c))
          .groupBy(col(c)).agg(count(lit(1)).as("n"))
          .groupBy($"n").agg(count(lit(1)).as("k"))
        val w = Window.orderBy($"n")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wa = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        grid
          .withColumn("cum_k", sum($"k").over(w))
          .withColumn("tot_k", sum($"k").over(wa))
          .withColumn("tot_rows", sum($"n" * $"k").over(wa))
          .withColumn("max_n", max($"n").over(wa))
          .filter($"cum_k" * 100L >= $"tot_k" * 99L)
          .groupBy()
          .agg(min($"n").as("p99_key_rows"),
            first($"tot_k").as("n_keys"),
            first($"tot_rows").as("n_rows"),
            first($"max_n").as("max_key_rows"))
          .select(lit(c).as("key_col"), $"n_keys", $"n_rows",
            $"max_key_rows", $"p99_key_rows",
            ($"max_key_rows".cast("double") / $"n_rows".cast("double"))
              .as("top1_share"))
      }
      frames.reduce(_ unionByName _)
    },

    "q105_ab_test" -> { (s, dir) =>
      import s.implicits._
      // conversion = "power user": >= 14 purchases (the per-user
      // purchase median is ~13-14 at every SF — events per user are
      // volume-invariant in this generator — so both variants keep
      // real variance; an any-purchase definition converts EVERY user
      // and the pooled variance collapses to 0/0)
      val users = Tables.events(s, dir)
        .groupBy($"user_id")
        .agg(sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purch"))
        .withColumn("converted", when($"n_purch" >= 14L, 1L).otherwise(0L))
        .withColumn("variant", $"user_id" % 2)
      users.groupBy()
        .agg(
          sum(when($"variant" === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when($"variant" === 0, $"converted").otherwise(0L)).as("c_a"),
          sum(when($"variant" === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when($"variant" === 1, $"converted").otherwise(0L)).as("c_b"))
        // stepwise columns keep the IEEE tree identical on both sides;
        // the zero-variance edge (pooled p of 0 or 1) emits null z
        // explicitly instead of tripping ANSI division
        .withColumn("p_a", $"c_a".cast("double") / $"n_a".cast("double"))
        .withColumn("p_b", $"c_b".cast("double") / $"n_b".cast("double"))
        .withColumn("pp",
          ($"c_a" + $"c_b").cast("double") / ($"n_a" + $"n_b").cast("double"))
        .withColumn("se2", $"pp" * (lit(1.0) - $"pp") *
          (lit(1.0) / $"n_a".cast("double") + lit(1.0) / $"n_b".cast("double")))
        .select($"n_a", $"c_a", $"n_b", $"c_b", $"p_a", $"p_b",
          when($"se2" > 0.0, ($"p_a" - $"p_b") / sqrt($"se2")).as("z"))
    },

    // `q107_random_walks` — WALK-CORPUS generation over the trade
    // graph (round 8), the sampling step under DeepWalk/node2vec-style
    // graph embeddings: 4-step walks from the 50 lowest customer
    // nodes. The "random" next-hop is a committed-constant hash —
    // pick = 1 + (walk·2654435761 + cur·40503 + step·1013904223) mod
    // deg(cur) — so walks are REPLAYABLE (no RNG; every product
    // < 2^63, positive operands — DuckDB % == pmod here) and the
    // oracle unrolls the steps as CTEs (the q93 lpRound discipline).
    // Scale shape: the adjacency frame ranks each node's edges once
    // (two windows on the HIGH-cardinality src key) and persists;
    // each step is one equi-join of the walker frame against it —
    // walker-bounded work per round, graph touched only by lookup.
    "q107_random_walks" -> { (s, dir) =>
      import s.implicits._
      // shared co-trade scan (round 19 — GraphEdges.cotradePairs)
      val cs = GraphEdges.cotradePairs(s, dir).select($"src", $"dst")
      val edges = cs.union(cs.select($"dst".as("src"), $"src".as("dst")))
      val wS = Window.partitionBy($"src").orderBy($"dst".asc)
      val wD = Window.partitionBy($"src")
      val adj = edges
        .withColumn("rk", row_number().over(wS).cast("long"))
        .withColumn("deg", count(lit(1)).over(wD))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = adj.select($"src".as("node")).distinct()
        .filter($"node" % 2 === 0 && $"node" <= 100)
        .select($"node".as("walk_id"), $"node".as("cur"))
      val steps = (1 to 4).scanLeft(seeds) { (w, t) =>
        adj.join(broadcast(w), adj("src") === w("cur"))
          .filter($"rk" === lit(1L) + pmod(
            $"walk_id" * lit(2654435761L) + $"cur" * lit(40503L) +
              lit(t.toLong) * lit(1013904223L), $"deg"))
          .select($"walk_id", $"dst".as("cur"))
      }
      steps.zipWithIndex.map { case (f, t) =>
        f.select($"walk_id", lit(t.toLong).as("step"), $"cur".as("node"))
      }.reduce(_ unionByName _)
    },

    // `q108_sliding_distinct` — 7-day sliding EXACT distinct users
    // (round 8), the query that cashes in q102's re-mergeability
    // claim: daily (day, seg, bits) segment bitmaps roll up ONCE from
    // the event stream, and every 7-day window re-merges them with
    // bit_or — the fact table is touched exactly once however many
    // windows are asked, where a naive sliding count(DISTINCT) re-
    // scans per window. The trailing window is an explode-7 postings
    // join (each seg-day posts to the 7 target days it serves —
    // equi-join on the day number, the RangeJoin bucket discipline;
    // gappy days need no gap fill because absent days simply post
    // nothing). All integers; state per window = live-keyspace/32.
    "q108_sliding_distinct" -> { (s, dir) =>
      import s.implicits._
      val segDay = Tables.events(s, dir)
        .select(to_date($"ts").as("day"), $"user_id")
        .select(datediff($"day", lit("1995-01-01").cast("date")).cast("long")
          .as("dayn"), $"day",
          expr("user_id DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bitval"))
        .groupBy($"dayn", $"day", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
      val posted = segDay.select($"seg", $"bits", $"day", $"dayn",
          explode(sequence(lit(0L), lit(6L))).as("off"))
        .select(($"dayn" + $"off").as("target_dayn"), $"seg", $"bits")
      val days = segDay.select($"dayn".as("target_dayn"), $"day").distinct()
      posted
        .join(days, "target_dayn") // only emit windows ending on a real day
        .groupBy($"day", $"target_dayn", $"seg")
        .agg(expr("bit_or(bits)").as("wbits"))
        .groupBy($"day")
        .agg(sum(expr("bit_count(wbits)")).cast("long").as("n_distinct_7d"))
    },

    // `q109_bitmap_retention` — week-over-week retention via bitmap
    // INTERSECTION (round 8, the set-algebra face of the segment
    // family): weekly (week, seg, bits) rollups, retained(w) =
    // Σ_seg bit_count(bits_w & bits_{w+1}) — audience overlap
    // computed on 8-byte words, never by re-joining user ids; the
    // weekly frame is built ONCE (persisted — the active counts and
    // both sides of the shift join reuse it) and the shift join is
    // equi on (seg, week+1). Exact where theta sketches estimate;
    // state per week = live-keyspace/32 words.
    "q109_bitmap_retention" -> { (s, dir) =>
      import s.implicits._
      val weekly = Tables.events(s, dir)
        // DIV, not `/`: Column `/` on longs is double true-division
        .select(expr(
          "CAST(datediff(to_date(ts), DATE '1995-01-01') AS BIGINT) DIV 7")
          .as("week"),
          expr("user_id DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bitval"))
        .groupBy($"week", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val active = weekly.groupBy($"week")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_active"))
      val retained = weekly.as("a")
        .join(weekly.select(($"week" - 1L).as("week"), $"seg",
          $"bits".as("bits_next")).as("b"), Seq("week", "seg"))
        .groupBy($"week")
        .agg(sum(expr("bit_count(bits & bits_next)")).cast("long")
          .as("n_retained"))
      active.join(retained, "week")
        .select($"week", $"n_active", $"n_retained",
          ($"n_retained".cast("double") / $"n_active".cast("double"))
            .as("rate"))
    },

    // `q111_emd` — 1-Wasserstein (earth-mover) distance between the
    // era'd daily-volume distributions (round 8, q106's integral
    // sibling: KS is the max ECDF gap, EMD the SUM of gaps × spacing
    // — the drift number that weighs how FAR mass moved, the metric
    // modern drift monitors prefer over KS for shift magnitude). On
    // the integer value grid with explicit spacing (next_x − x),
    // EMD·n1·n2 = Σ |cum1·n2 − cum2·n1| · gap stays EXACT integer;
    // one double division renders the statistic. Same tiny-grid
    // windows as q106.
    "q111_emd" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("era",
          when(year($"day") < 1998, lit("pre")).otherwise(lit("post")))
      val grid = daily.groupBy($"x")
        .agg(sum(when($"era" === "pre", 1L).otherwise(0L)).as("d1"),
          sum(when($"era" === "post", 1L).otherwise(0L)).as("d2"))
      val w = Window.orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wl = Window.orderBy($"x")
      grid
        .withColumn("cum1", sum($"d1").over(w))
        .withColumn("cum2", sum($"d2").over(w))
        .withColumn("n1", sum($"d1").over(wa))
        .withColumn("n2", sum($"d2").over(wa))
        .withColumn("gap", lead($"x", 1).over(wl) - $"x")
        .filter($"gap".isNotNull) // the last grid point carries no mass
        .groupBy()
        .agg(first($"n1").as("n1"), first($"n2").as("n2"),
          sum(abs($"cum1" * $"n2" - $"cum2" * $"n1") * $"gap")
            .as("emd_num"))
        .select($"n1", $"n2", $"emd_num",
          ($"n1" * $"n2").as("emd_den"),
          ($"emd_num".cast("double") / ($"n1" * $"n2").cast("double"))
            .as("emd"))
    },

    // `q112_autocorr` — daily-volume autocorrelation at lags 1/7/14
    // (round 8, the seasonality detector): r_k = Σ(x_t−m)(x_{t+k}−m)
    // / Σ(x_t−m)² with the mean subtraction CROSS-MULTIPLIED by the
    // day count — num_k = Σ(N·x_t − T)(N·x_{t+k} − T) and
    // den = Σ(N·x_t − T)² stay exact integers (every product < 2^63
    // on this scale — the asserted-invariant bound), one division per
    // lag at the end. Lags are leads over the day-DOWNSAMPLED series;
    // gappy days pair by POSITION in the day sequence (documented —
    // the series here is dense). A strong r_7 is the weekly rhythm
    // this query exists to find.
    "q112_autocorr" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(count(lit(1)).as("nd"), sum($"x").as("t"))
      val wl = Window.orderBy($"day")
      val dev = daily.crossJoin(broadcast(tot))
        .withColumn("v", $"nd" * $"x" - $"t")
        .withColumn("v1", lead($"v", 1).over(wl))
        .withColumn("v7", lead($"v", 7).over(wl))
        .withColumn("v14", lead($"v", 14).over(wl))
      dev.groupBy()
        .agg(first($"nd").as("n_days"),
          sum($"v" * $"v").as("den"),
          sum($"v" * $"v1").as("num1"),
          sum($"v" * $"v7").as("num7"),
          sum($"v" * $"v14").as("num14"))
        .select($"n_days", $"den",
          ($"num1".cast("double") / $"den".cast("double")).as("r1"),
          ($"num7".cast("double") / $"den".cast("double")).as("r7"),
          ($"num14".cast("double") / $"den".cast("double")).as("r14"))
    },

    "q106_ks_test" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
        .withColumn("era",
          when(year($"day") < 1998, lit("pre")).otherwise(lit("post")))
      val grid = daily.groupBy($"x")
        .agg(sum(when($"era" === "pre", 1L).otherwise(0L)).as("d1"),
          sum(when($"era" === "post", 1L).otherwise(0L)).as("d2"))
      val w = Window.orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      grid
        .withColumn("cum1", sum($"d1").over(w))
        .withColumn("cum2", sum($"d2").over(w))
        .withColumn("n1", sum($"d1").over(wa))
        .withColumn("n2", sum($"d2").over(wa))
        .withColumn("gap", abs($"cum1" * $"n2" - $"cum2" * $"n1"))
        .groupBy()
        .agg(first($"n1").as("n1"), first($"n2").as("n2"),
          max(struct($"gap", (-$"x").as("negx"))).as("m"))
        .select($"n1", $"n2",
          $"m.gap".as("d_num"), ($"n1" * $"n2").as("d_den"),
          (-$"m.negx").as("at_x"),
          ($"m.gap".cast("double") / ($"n1" * $"n2").cast("double")).as("d"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "dq_benford" ->
      """WITH f AS (SELECT CAST(nullif(regexp_extract(
        |    CAST(o_totalprice AS VARCHAR), '([1-9])', 1), '') AS BIGINT)
        |    AS d
        |  FROM orders),
        |c AS (SELECT d, CAST(count(*) AS BIGINT) AS o FROM f
        |      WHERE d IS NOT NULL GROUP BY d),
        |m AS (SELECT d, o, CAST(sum(o) OVER () AS BIGINT) AS n,
        |    CASE d
        |      WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129
        |      WHEN 9 THEN 0.04575749056067514
        |      ELSE 0.0 END AS expected_share
        |  FROM c)
        |SELECT d, o, n, expected_share,
        |  CAST(n AS DOUBLE) * expected_share AS e,
        |  (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * expected_share)
        |    * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) * expected_share)
        |    / (CAST(n AS DOUBLE) * expected_share) AS chi2_contrib
        |FROM m""".stripMargin,

    "dq_skew_report" -> Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
      s"""SELECT key_col, n_keys, n_rows, max_key_rows, p99_key_rows,
         |  CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)
         |    AS top1_share
         |FROM (
         |  SELECT '$c' AS key_col,
         |    CAST(min(n) AS BIGINT) AS p99_key_rows,
         |    CAST(max(tot_k) AS BIGINT) AS n_keys,
         |    CAST(max(tot_rows) AS BIGINT) AS n_rows,
         |    CAST(max(max_n) AS BIGINT) AS max_key_rows
         |  FROM (
         |    SELECT n, k,
         |      sum(k) OVER (ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING
         |        AND CURRENT ROW) AS cum_k,
         |      sum(k) OVER () AS tot_k,
         |      sum(n * k) OVER () AS tot_rows,
         |      max(n) OVER () AS max_n
         |    FROM (SELECT n, CAST(count(*) AS BIGINT) AS k
         |          FROM (SELECT $c, CAST(count(*) AS BIGINT) AS n
         |                FROM lineitem GROUP BY $c) GROUP BY n))
         |  WHERE cum_k * 100 >= tot_k * 99)""".stripMargin
    }.mkString("\nUNION ALL\n"),

    "q105_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
        |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS converted,
        |    user_id % 2 AS variant
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
        |      AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
        |      AS BIGINT) AS c_b
        |  FROM u),
        |t AS (SELECT n_a, c_a, n_b, c_b,
        |    CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
        |    CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
        |    CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        |  FROM c),
        |v AS (SELECT t.*, pp * (1.0 - pp) *
        |    (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)) AS se2
        |  FROM t)
        |SELECT n_a, c_a, n_b, c_b, p_a, p_b,
        |  CASE WHEN se2 > 0.0 THEN (p_a - p_b) / sqrt(se2) END AS z
        |FROM v""".stripMargin,

    "q107_random_walks" ->
      """WITH cs AS (SELECT DISTINCT o_custkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT src, dst FROM cs
        |      UNION ALL SELECT dst, src FROM cs),
        |adj AS (SELECT src, dst,
        |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
        |      AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |  FROM e),
        |w0 AS (SELECT src AS walk_id, src AS cur FROM
        |    (SELECT DISTINCT src FROM adj)
        |  WHERE src % 2 = 0 AND src <= 100),
        |w1 AS (SELECT w.walk_id, a.dst AS cur FROM w0 w JOIN adj a
        |  ON a.src = w.cur AND a.rk = 1 +
        |    (w.walk_id * 2654435761 + w.cur * 40503 + 1 * CAST(1013904223 AS BIGINT)) % a.deg),
        |w2 AS (SELECT w.walk_id, a.dst AS cur FROM w1 w JOIN adj a
        |  ON a.src = w.cur AND a.rk = 1 +
        |    (w.walk_id * 2654435761 + w.cur * 40503 + 2 * CAST(1013904223 AS BIGINT)) % a.deg),
        |w3 AS (SELECT w.walk_id, a.dst AS cur FROM w2 w JOIN adj a
        |  ON a.src = w.cur AND a.rk = 1 +
        |    (w.walk_id * 2654435761 + w.cur * 40503 + 3 * CAST(1013904223 AS BIGINT)) % a.deg),
        |w4 AS (SELECT w.walk_id, a.dst AS cur FROM w3 w JOIN adj a
        |  ON a.src = w.cur AND a.rk = 1 +
        |    (w.walk_id * 2654435761 + w.cur * 40503 + 4 * CAST(1013904223 AS BIGINT)) % a.deg)
        |SELECT walk_id, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
        |UNION ALL SELECT walk_id, 1, cur FROM w1
        |UNION ALL SELECT walk_id, 2, cur FROM w2
        |UNION ALL SELECT walk_id, 3, cur FROM w3
        |UNION ALL SELECT walk_id, 4, cur FROM w4""".stripMargin,

    "q108_sliding_distinct" ->
      """WITH sd AS (SELECT
        |    CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS dayn,
        |    CAST(ts AS DATE) AS day,
        |    user_id // 32 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM events GROUP BY 1, 2, 3),
        |posted AS (SELECT dayn + off AS target_dayn, seg, bits
        |  FROM sd CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS off)),
        |days AS (SELECT DISTINCT dayn AS target_dayn, day FROM sd),
        |w AS (SELECT day, target_dayn, seg, bit_or(bits) AS wbits
        |  FROM posted JOIN days USING (target_dayn)
        |  GROUP BY 1, 2, 3)
        |SELECT day, CAST(sum(bit_count(wbits)) AS BIGINT) AS n_distinct_7d
        |FROM w GROUP BY day""".stripMargin,

    "q109_bitmap_retention" ->
      """WITH wk AS (SELECT
        |    CAST(datediff('day', DATE '1995-01-01', CAST(ts AS DATE))
        |      AS BIGINT) // 7 AS week,
        |    user_id // 32 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM events GROUP BY 1, 2),
        |act AS (SELECT week, CAST(sum(bit_count(bits)) AS BIGINT)
        |    AS n_active FROM wk GROUP BY 1),
        |ret AS (SELECT a.week,
        |    CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_retained
        |  FROM wk a JOIN wk b ON a.seg = b.seg AND b.week = a.week + 1
        |  GROUP BY 1)
        |SELECT week, n_active, n_retained,
        |  CAST(n_retained AS DOUBLE) / CAST(n_active AS DOUBLE) AS rate
        |FROM act JOIN ret USING (week)""".stripMargin,

    "q111_emd" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |e AS (SELECT x, CASE WHEN year(day) < 1998 THEN 'pre'
        |        ELSE 'post' END AS era FROM daily),
        |grid AS (SELECT x,
        |    CAST(sum(CASE WHEN era = 'pre' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN era = 'post' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d2
        |  FROM e GROUP BY x),
        |c AS (SELECT x,
        |    CAST(sum(d1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum1,
        |    CAST(sum(d2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum2,
        |    CAST(sum(d1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(d2) OVER () AS BIGINT) AS n2,
        |    lead(x, 1) OVER (ORDER BY x) - x AS gap
        |  FROM grid),
        |m AS (SELECT n1, n2,
        |    CAST(sum(abs(cum1 * n2 - cum2 * n1) * gap) AS BIGINT)
        |      AS emd_num
        |  FROM c WHERE gap IS NOT NULL GROUP BY n1, n2)
        |SELECT n1, n2, emd_num, n1 * n2 AS emd_den,
        |  CAST(emd_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS emd
        |FROM m""".stripMargin,

    "q112_autocorr" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
        |               CAST(sum(x) AS BIGINT) AS t FROM daily),
        |dev AS (SELECT day, nd, nd * x - t AS v
        |        FROM daily CROSS JOIN tot),
        |l AS (SELECT nd, v,
        |    lead(v, 1) OVER (ORDER BY day) AS v1,
        |    lead(v, 7) OVER (ORDER BY day) AS v7,
        |    lead(v, 14) OVER (ORDER BY day) AS v14
        |  FROM dev)
        |SELECT CAST(max(nd) AS BIGINT) AS n_days,
        |  CAST(sum(v * v) AS BIGINT) AS den,
        |  CAST(sum(v * v1) AS DOUBLE) / CAST(sum(v * v) AS DOUBLE) AS r1,
        |  CAST(sum(v * v7) AS DOUBLE) / CAST(sum(v * v) AS DOUBLE) AS r7,
        |  CAST(sum(v * v14) AS DOUBLE) / CAST(sum(v * v) AS DOUBLE) AS r14
        |FROM l""".stripMargin,

    "q106_ks_test" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |e AS (SELECT x, CASE WHEN year(day) < 1998 THEN 'pre'
        |        ELSE 'post' END AS era FROM daily),
        |grid AS (SELECT x,
        |    CAST(sum(CASE WHEN era = 'pre' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d1,
        |    CAST(sum(CASE WHEN era = 'post' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d2
        |  FROM e GROUP BY x),
        |c AS (SELECT x,
        |    CAST(sum(d1) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum1,
        |    CAST(sum(d2) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS BIGINT) AS cum2,
        |    CAST(sum(d1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(d2) OVER () AS BIGINT) AS n2
        |  FROM grid),
        |g AS (SELECT x, cum1, cum2, n1, n2,
        |    abs(cum1 * n2 - cum2 * n1) AS gap FROM c),
        |m AS (SELECT n1, n2,
        |    max(struct_pack(gap := gap, negx := -x)) AS m
        |  FROM g GROUP BY n1, n2)
        |SELECT n1, n2, m.gap AS d_num, n1 * n2 AS d_den,
        |  -(m.negx) AS at_x,
        |  CAST(m.gap AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d
        |FROM m""".stripMargin
  )
}
