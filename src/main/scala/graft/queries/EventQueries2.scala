package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 event-stream additions, wave 2.
  *
  * `q103_paths` — top user journeys (the product-analytics "path
  * analysis" report): each user's first 5 events in strict
  * (micros, event_id) order joined into a `a>b>c` path string, top-20
  * paths by user count. The rn ≤ 5 filter rides Spark 4's map-side
  * Partial WindowGroupLimit (per-partition top-k pruning before the
  * user exchange — the round-2 lesson), the path rollup shuffles only
  * one short string per user, and the top-20 is a partial
  * TakeOrdered. Total order everywhere: (us, event_id) within users,
  * (n_users desc, path asc) across paths.
  *
  * `dq_freshness` — per-event-type freshness/staleness audit (the
  * ingestion-lag monitor every streaming warehouse runs): row count,
  * first/last event micros, staleness vs the GLOBAL max watermark,
  * and the count inside the trailing 7 days. "Now" is deliberately
  * the corpus watermark, not wall-clock — deterministic and
  * oracle-replayable (the no-Date.now discipline). One broadcast of
  * the 1-row global max against the scan, ONE partial-aggregated
  * rollup — the conditional recent-count lives in the same pass, no
  * second scan. All integer micros.
  */
object EventQueries2 extends graft.QueryModule {

  private val Week: Long = 7L * 24 * 3600 * 1000000L

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q103_paths" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val w = Window.partitionBy($"user_id")
        .orderBy(unix_micros($"ts").asc, $"event_id".asc)
      ev.withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .groupBy($"user_id")
        .agg(sort_array(collect_list(struct($"rn", $"event_type"))).as("xs"))
        .select(expr("array_join(transform(xs, x -> x.event_type), '>')")
          .as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path".asc).limit(20)
    },

    // pairwise audience-overlap matrix via bitmap set algebra
    // (round 8): which event types share users, exactly — per type a
    // (seg, bits) user bitmap, overlap(a,b) = Σ_seg bit_count(a & b),
    // exact Jaccard from integer counts in one final division. The
    // per-type frame rolls up ONCE (persisted, both matrix sides +
    // totals reuse it); the pair join is equi on seg with |types|²
    // fan-out per segment word — audience overlap on 8-byte words,
    // never an id-level self-join. Exact where sketch_theta_setops
    // estimates; the complement of q109's temporal intersection.
    "dq_overlap_matrix" -> { (s, dir) =>
      import s.implicits._
      val tb = Tables.events(s, dir)
        .select($"event_type",
          expr("user_id DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bitval"))
        .groupBy($"event_type", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val totals = tb.groupBy($"event_type")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_users"))
      val inter = tb.as("a")
        .join(tb.select($"event_type".as("type_b"), $"seg",
          $"bits".as("bits_b")).as("b"), "seg")
        .filter($"event_type" < $"type_b")
        .groupBy($"event_type".as("type_a"), $"type_b")
        .agg(sum(expr("bit_count(bits & bits_b)")).cast("long")
          .as("n_overlap"))
      inter
        .join(broadcast(totals.select($"event_type".as("type_a"),
          $"n_users".as("n_a"))), "type_a")
        .join(broadcast(totals.select($"event_type".as("type_b"),
          $"n_users".as("n_b"))), "type_b")
        .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_overlap",
          ($"n_overlap".cast("double") /
            ($"n_a" + $"n_b" - $"n_overlap").cast("double")).as("jaccard"))
    },

    // unordered REACH funnel via bitmap AND-chain (round 8): how many
    // users did view, view∧click, view∧click∧purchase — REGARDLESS of
    // order (the marketing "reach" metric; q46/q96 are the ordered
    // funnels). Per-type segment bitmaps AND together stage by stage —
    // set intersection on 8-byte words, one seg equi-join per stage,
    // exact counts (theta sketches estimate this; bitmaps don't).
    "q113_reach_funnel" -> { (s, dir) =>
      import s.implicits._
      // stage predicates narrow for real (this dense generator has
      // every user doing every type): click >= 100, purchase >= 150
      // value floors (measured sf0.01: 150 -> 131 -> 57 users)
      val tb = Tables.events(s, dir)
        .filter($"event_type" === "view" ||
          ($"event_type" === "click" && $"value" >= 100.0) ||
          ($"event_type" === "purchase" && $"value" >= 150.0))
        .select($"event_type",
          expr("user_id DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bitval"))
        .groupBy($"event_type", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def typ(t: String, c: String) = tb.filter($"event_type" === t)
        .select($"seg", $"bits".as(c))
      val joined = typ("view", "b_v")
        .join(typ("click", "b_c"), Seq("seg"), "left")
        .join(typ("purchase", "b_p"), Seq("seg"), "left")
        .select($"seg", $"b_v",
          coalesce($"b_c", lit(0L)).as("b_c"),
          coalesce($"b_p", lit(0L)).as("b_p"))
      joined.groupBy()
        .agg(sum(expr("bit_count(b_v)")).cast("long").as("n_view"),
          sum(expr("bit_count(b_v & b_c)")).cast("long")
            .as("n_view_click"),
          sum(expr("bit_count(b_v & b_c & b_p)")).cast("long")
            .as("n_view_click_purchase"))
    },

    // daily NEW vs RETURNING users (round 8, the growth-accounting
    // report): newcomers(d) = popcount(bits_d & ~cum_{<d}) where cum
    // is the running bit_or of all prior days — the bitmap algebra
    // handles "ever seen before" in one word op per segment, no
    // first-seen-date join, no distinct-over-history rescan. The
    // running OR windows partition on the HIGH-cardinality segment
    // key ordered by day (frame ends at -1 row: strictly prior days);
    // per-day rollup partial-aggregates. All exact.
    "q114_new_vs_returning" -> { (s, dir) =>
      import s.implicits._
      val sd = Tables.events(s, dir)
        .select(to_date($"ts").as("day"),
          expr("user_id DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bitval"))
        .groupBy($"day", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
      val w = Window.partitionBy($"seg").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, -1)
      sd.withColumn("prev_cum",
          coalesce(expr("bit_or(bits)").over(w), lit(0L)))
        .groupBy($"day")
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_active"),
          sum(expr("bit_count(bits & ~prev_cum)")).cast("long")
            .as("n_new"))
        .withColumn("n_returning", $"n_active" - $"n_new")
    },

    "dq_freshness" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).select($"event_type",
        unix_micros($"ts").as("us"))
      val glob = ev.agg(max($"us").as("gmax"))
      ev.crossJoin(broadcast(glob))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          min($"us").as("min_us"),
          max($"us").as("max_us"),
          sum(when($"us" >= $"gmax" - lit(Week), 1L).otherwise(0L))
            .as("n_recent7"),
          first($"gmax").as("gmax"))
        .select($"event_type", $"n", $"min_us", $"max_us",
          ($"gmax" - $"max_us").as("staleness_us"), $"n_recent7")
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q103_paths" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS us, event_id FROM events),
        |r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS rn FROM e),
        |p AS (SELECT user_id,
        |    array_to_string(list(event_type ORDER BY rn), '>') AS path
        |  FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    "dq_overlap_matrix" ->
      """WITH tb AS (SELECT event_type, user_id // 32 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT)
        |    AS n_users FROM tb GROUP BY 1),
        |inter AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_overlap
        |  FROM tb a JOIN tb b
        |    ON a.seg = b.seg AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, ta.n_users AS n_a, tb2.n_users AS n_b,
        |  n_overlap,
        |  CAST(n_overlap AS DOUBLE) /
        |    CAST(ta.n_users + tb2.n_users - n_overlap AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN tot ta ON inter.type_a = ta.event_type
        |JOIN tot tb2 ON inter.type_b = tb2.event_type""".stripMargin,

    "q113_reach_funnel" ->
      """WITH tb AS (SELECT event_type, user_id // 32 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM events
        |  WHERE event_type = 'view'
        |     OR (event_type = 'click' AND value >= 100.0)
        |     OR (event_type = 'purchase' AND value >= 150.0)
        |  GROUP BY 1, 2),
        |j AS (SELECT v.seg, v.bits AS b_v,
        |    coalesce(c.bits, 0) AS b_c, coalesce(p.bits, 0) AS b_p
        |  FROM (SELECT seg, bits FROM tb WHERE event_type = 'view') v
        |  LEFT JOIN (SELECT seg, bits FROM tb WHERE event_type = 'click') c
        |    ON v.seg = c.seg
        |  LEFT JOIN (SELECT seg, bits FROM tb
        |             WHERE event_type = 'purchase') p
        |    ON v.seg = p.seg)
        |SELECT CAST(sum(bit_count(b_v)) AS BIGINT) AS n_view,
        |  CAST(sum(bit_count(b_v & b_c)) AS BIGINT) AS n_view_click,
        |  CAST(sum(bit_count(b_v & b_c & b_p)) AS BIGINT)
        |    AS n_view_click_purchase
        |FROM j""".stripMargin,

    "q114_new_vs_returning" ->
      """WITH sd AS (SELECT CAST(ts AS DATE) AS day,
        |    user_id // 32 AS seg,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bits
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT day, seg, bits,
        |    coalesce(bit_or(bits) OVER (PARTITION BY seg ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prev_cum
        |  FROM sd)
        |SELECT day,
        |  CAST(sum(bit_count(bits)) AS BIGINT) AS n_active,
        |  CAST(sum(bit_count(bits & ~prev_cum)) AS BIGINT) AS n_new,
        |  CAST(sum(bit_count(bits)) AS BIGINT)
        |    - CAST(sum(bit_count(bits & ~prev_cum)) AS BIGINT)
        |    AS n_returning
        |FROM c GROUP BY day""".stripMargin,

    "dq_freshness" ->
      s"""WITH e AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS us
         |           FROM events),
         |g AS (SELECT max(us) AS gmax FROM e)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(us) AS BIGINT) AS min_us,
         |  CAST(max(us) AS BIGINT) AS max_us,
         |  CAST((SELECT gmax FROM g) - max(us) AS BIGINT) AS staleness_us,
         |  CAST(sum(CASE WHEN us >= (SELECT gmax FROM g) - $Week
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_recent7
         |FROM e GROUP BY event_type""".stripMargin
  )
}
