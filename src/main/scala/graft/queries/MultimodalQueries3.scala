package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 multimodal addition: `mm_hamming_curve` — the phash RADIUS
  * TUNER, dedup_banding_curve's visual sibling: for Hamming radius
  * r ∈ {0, 1, 2, 3}, how many distinct-hash pairs and how many total
  * IMAGE pairs fall within r? The table a dedup owner reads to pick
  * mm_dedup's operating radius (committed: 2) — pair volume grows with
  * r, and the knee is corpus-specific.
  *
  * Scale shape is the round-10 clique-collapse discipline FROM THE
  * START: all counting runs over hash CLASSES (distinct w0..w3 with
  * member counts), never over the member-level pair enumeration —
  * radius-0 pairs are Σ C(cnt, 2) per class (one groupBy), and
  * cross-class pairs at 1 ≤ h ≤ r weight each surviving class pair by
  * cnt_a·cnt_b. Candidates come from the 4×16-bit banded join over
  * class REPRESENTATIVES at the pigeonhole ceiling (≤ 3 differing bits
  * cannot touch all 4 bands — zero false negatives by construction, so
  * the whole curve is EXACT, not sampled). All integer arithmetic;
  * the oracle replays the full chain with a distinct² pair matrix
  * (fine at oracle scale; the engine-side join is the banded one).
  */
object MultimodalQueries3 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "mm_hamming_curve" -> { (s, dir) =>
      import s.implicits._
      val hx = MultimodalQueries2.phashBandFrame(s, dir)
      val classes = hx.groupBy($"w0", $"w1", $"w2", $"w3")
        .agg(count(lit(1)).as("cnt"), min($"media_id").as("rep"))
        .persist() // feeds within-count, the banded join, and both cnt joins
      val within = classes
        .agg(sum(expr("(cnt * (cnt - 1)) DIV 2")).as("within"))
      val reps = classes.select($"rep".as("media_id"),
        $"w0", $"w1", $"w2", $"w3")
      val pairs = MultimodalQueries2.phashPairsFrom(reps, maxHamming = 3)
        .join(classes.select($"rep".as("id_a"), $"cnt".as("cnt_a")), "id_a")
        .join(classes.select($"rep".as("id_b"), $"cnt".as("cnt_b")), "id_b")
        .select($"hamming", ($"cnt_a" * $"cnt_b").as("wpairs"))
        .persist() // probed once per radius row
      s.range(0, 4).select($"id".as("radius"))
        .join(pairs, $"hamming" <= $"radius", "left")
        .groupBy($"radius")
        .agg(count($"hamming").as("n_hash_pairs"),
          coalesce(sum($"wpairs"), lit(0L)).as("cross_pairs"))
        .crossJoin(broadcast(within))
        .select($"radius", $"n_hash_pairs",
          (coalesce($"within", lit(0L)) + $"cross_pairs").as("n_img_pairs"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "mm_hamming_curve" -> (MultimodalQueries2.phashCte +
      s""",
         |hw AS (SELECT media_id,
         |  ${(0 until 4).map(k => s"CAST(${MultimodalQueries2.bandInt("phash", k * 4 + 1)} AS BIGINT) AS w$k").mkString(", ")}
         |  FROM hx),
         |cls AS (SELECT w0, w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
         |  FROM hw GROUP BY w0, w1, w2, w3),
         |wi AS (SELECT CAST(coalesce(sum((cnt * (cnt - 1)) // 2), 0)
         |    AS BIGINT) AS within FROM cls),
         |pr AS (SELECT
         |    ${(0 until 4).map(k => s"bit_count(xor(a.w$k, b.w$k))").mkString(" + ")} AS h,
         |    a.cnt * b.cnt AS wp
         |  FROM cls a JOIN cls b
         |    ON (a.w0, a.w1, a.w2, a.w3) < (b.w0, b.w1, b.w2, b.w3))
         |SELECT CAST(r AS BIGINT) AS radius,
         |  CAST((SELECT count(*) FROM pr WHERE h <= r) AS BIGINT)
         |    AS n_hash_pairs,
         |  CAST((SELECT within FROM wi)
         |    + coalesce((SELECT sum(wp) FROM pr WHERE h <= r), 0) AS BIGINT)
         |    AS n_img_pairs
         |FROM (SELECT unnest([0, 1, 2, 3]) AS r)""".stripMargin)
  )
}
