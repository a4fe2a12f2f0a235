package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim

/** Round-12 similarity addition: `ann_matryoshka` — prefix-dimension
  * recall ablation (Matryoshka Representation Learning, Kusupati et
  * al. 2022): how much top-k quality survives truncating the embedding
  * to its first d′ ∈ {8, 16, 32, 64} dimensions? The table a deployment
  * reads to pick the cheapest d′ whose recall clears the bar — MRL's
  * whole operating premise is that a prefix is a usable embedding, and
  * this measures that premise ON the corpus (these embeddings are NOT
  * MRL-trained, so the curve is the honest untrained baseline: recall
  * climbs with d′ and hits 1.0 at the full 64 by construction).
  *
  * Exactness: prefix cosine = CosineSim over slice(embedding, 1, d′) —
  * the strict left-to-right fold == DuckDB list_reduce over
  * embedding[1:d′] (the committed CosineSim parity rule); rankings
  * tie-break on vec_id so every top-10 is a total order; recall is an
  * exact integer hit count with ONE final IEEE division.
  *
  * Scale shape: the 4 prefix cosines compute in ONE kernel pass over
  * candidates × broadcast anchors (persisted — 5 rankings read it);
  * per-anchor top-10s ride the q_id-partitioned rank window at
  * |anchors| ≫ partition-count scales via more anchors, and hits
  * aggregate by left-semi join — no driver loops, no full sorts.
  */
object SimilarityQueries8 extends graft.QueryModule {

  private val Dims = Seq(8, 16, 32, 64)
  private val NAnchors = 5
  private val TopK = 10

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ann_matryoshka" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      val cand = emb.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(anchors))
        .select(Seq($"q_id", $"vec_id") ++ Dims.map(d =>
          cosine_sim(slice($"embedding", 1, d), slice($"qv", 1, d))
            .as(s"cos_$d")): _*)
        .persist() // one kernel pass feeds the truth + 4 prefix rankings
      def topAt(c: String) = cand
        .withColumn("rk", row_number().over(
          Window.partitionBy($"q_id").orderBy(col(c).desc, $"vec_id".asc)))
        .filter($"rk" <= TopK).select($"q_id", $"vec_id")
      val truth = topAt(s"cos_${Dims.last}")
        .persist() // compared against every prefix ranking
      val truthN = truth.agg(count(lit(1)).as("n_truth"))
        .persist() // the exact recall denominator, shared by all rows
      // recall divides by the TRUE top-list size (per-anchor
      // min(TopK, candidates) summed), not a hardcoded anchors·k —
      // exact on any corpus; null (not a divide) if truth is empty.
      // The full-dim row reuses truth itself: self-recall is |truth|
      // hits by definition, no second identical ranking pass.
      Dims.map { d =>
        val hits =
          if (d == Dims.last) truthN.select($"n_truth".as("n_hits"))
          else truth.join(topAt(s"cos_$d"), Seq("q_id", "vec_id"),
            "left_semi").agg(count(lit(1)).as("n_hits"))
        hits.crossJoin(broadcast(truthN))
          .select(lit(d.toLong).as("dim"), $"n_hits",
            when($"n_truth" > 0,
              $"n_hits".cast("double") / $"n_truth".cast("double"))
              .otherwise(lit(null).cast("double")).as("recall"))
      }.reduce(_ unionByName _)
    }
  )

  /** Strict left-to-right double fold of the elementwise product —
    * identical eval order to CosineSim (the SimilarityQueries4 dot).
    */
  private def dot(x: String, y: String) =
    s"""list_reduce(list_transform(range(1, len($x) + 1),
       | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
       | (gx, gy) -> gx + gy)""".stripMargin
  private def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  private def recallRowSql(d: Int): String =
    s"""SELECT CAST($d AS BIGINT) AS dim,
       |  CAST(count(*) AS BIGINT) AS n_hits,
       |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN NULL
       |    ELSE CAST(count(*) AS DOUBLE)
       |      / CAST((SELECT count(*) FROM truth) AS DOUBLE) END AS recall
       |FROM truth tt JOIN top_$d pp
       |  ON tt.q_id = pp.q_id AND tt.vec_id = pp.vec_id""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "ann_matryoshka" -> {
      val tops = Dims.map { d =>
        s"""top_$d AS (SELECT q_id, vec_id FROM (
           |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cos(s"embedding[1:$d]", s"qv[1:$d]")} DESC,
           |        vec_id ASC) AS rk
           |  FROM cand) WHERE rk <= $TopK)""".stripMargin
      }.mkString(",\n")
      s"""WITH anchors AS (SELECT vec_id AS q_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < $NAnchors),
         |cand AS (SELECT a.q_id, e.vec_id, e.embedding, a.qv
         |  FROM embeddings e CROSS JOIN anchors a WHERE e.vec_id >= $NAnchors),
         |$tops,
         |truth AS (SELECT q_id, vec_id FROM top_${Dims.last})
         |${Dims.map(recallRowSql).mkString("", "\nUNION ALL\n", "")}"""
        .stripMargin
    }
  )
}
