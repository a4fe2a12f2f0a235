package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Similarity

/** ANN search over `embeddings` (SURVEY.md §2.4). The query vector is
  * vec_id 0 (taken from the table itself so oracle and engine share it
  * exactly). Cosines are bit-identical between engines (strict left
  * folds over identical doubles), so top-k ordering matches exactly.
  */
object SimilarityQueries extends graft.QueryModule {

  private def queryDf(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ann_bruteforce" -> { (s, dir) =>
      Similarity.bruteForceTopK(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        queryDf(s, dir), k = 10)
        .select(col("vec_id"), col("label"), col("cos"))
    },

    "ann_lsh" -> { (s, dir) =>
      Similarity.lshTopK(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        queryDf(s, dir), k = 10, bands = 32, rowsPerBand = 3)
        .select(col("vec_id"), col("label"), col("cos"))
    },

    // batch k-NN join: every 50th vector is a query; exact top-5 each
    "knn_join" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnJoin(emb, "vec_id", "embedding", q, k = 5)
    },

    "ann_ivf" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val w = Window.partitionBy(col("label")).orderBy(col("vec_id").asc)
      val centroids = emb.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("label").as("cid"), col("embedding").as("cv"))
      Similarity.ivfTopK(emb, "vec_id", "embedding",
        centroids, queryDf(s, dir), k = 10, nprobe = 3)
        .select(col("vec_id"), col("label"), col("cid"), col("cos"))
    },

    // product-quantization ADC: 8 subspaces × 64 codes, codebooks =
    // deterministic seed rows (vec_id 1..64); ranking by the exact
    // cosine of each vector's reconstruction against the query — the
    // oracle replays codebook slicing, per-subspace argmin (ties to
    // the lowest code), LUT sums and the final normalization with the
    // identical fold order, so scores are bit-equal
    "ann_pq" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val codebook = emb.filter(col("vec_id").between(1, 64))
        .select((col("vec_id") - 1).cast("int").as("c"),
          col("embedding").as("cv"))
      Similarity.pqTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", codebook, queryDf(s, dir), k = 10, m = 8)
        .select(col("vec_id"), col("label"), col("pq_score"))
    }
  )

  /** cosine as a strict left fold — bit-identical to CosineSim. */
  private def cos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
         | (gx, gy) -> gx + gy)""".stripMargin
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** Sign-LSH bucket list — mirrors SignLshBuckets (32 bands x 3 rows). */
  private def lshBuckets(v: String): String = {
    def planeDot(p: String) =
      s"""list_reduce(list_transform(range(1, len($v) + 1),
         | gi -> CAST(((1000003 * ($p) + 7919 * (gi - 1)) % 97) - 48 AS DOUBLE)
         |   * CAST($v[CAST(gi AS INT)] AS DOUBLE)),
         | (gx, gy) -> gx + gy)""".stripMargin
    def bit(p: String) = s"CASE WHEN ${planeDot(p)} >= 0 THEN 1 ELSE 0 END"
    s"""list_transform(range(0, 32), gb -> gb * 8
       | + 4 * ${bit("3 * gb")}
       | + 2 * ${bit("3 * gb + 1")}
       | + ${bit("3 * gb + 2")})""".stripMargin
  }

  val oracles: Seq[(String, String)] = Seq(
    "ann_bruteforce" ->
      s"""SELECT e.vec_id, e.label, ${cos("e.embedding", "q.qv")} AS cos
         |FROM embeddings e,
         |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id != 0
         |ORDER BY cos DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    "knn_join" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |p AS (SELECT q.qid, e.vec_id, ${cos("e.embedding", "q.qv")} AS cos
         |  FROM embeddings e, q WHERE e.vec_id != q.qid),
         |r AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS rnk FROM p)
         |SELECT qid, vec_id, cos, rnk FROM r WHERE rnk <= 5""".stripMargin,

    "ann_lsh" ->
      s"""WITH bk AS (SELECT vec_id, label, embedding,
         |  ${lshBuckets("embedding")} AS bks FROM embeddings),
         |q AS (SELECT embedding AS qv, bks AS qbks FROM bk WHERE vec_id = 0)
         |SELECT vec_id, label, ${cos("embedding", "q.qv")} AS cos
         |FROM bk, q
         |WHERE vec_id != 0 AND len(list_intersect(bks, qbks)) > 0
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,

    "ann_ivf" ->
      s"""WITH c AS (SELECT e.label AS cid, e.embedding AS cv
         |  FROM embeddings e
         |  JOIN (SELECT min(vec_id) AS mv FROM embeddings GROUP BY label) m
         |    ON e.vec_id = m.mv),
         |asg AS (SELECT vec_id, label, embedding, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_vc DESC, cid ASC) AS rn
         |  FROM (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |    ${cos("e.embedding", "c.cv")} AS cos_vc FROM embeddings e, c)),
         |cells AS (SELECT vec_id, label, embedding, cid FROM asg WHERE rn = 1),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT cid FROM (SELECT c.cid,
         |    row_number() OVER (ORDER BY ${cos("q.qv", "c.cv")} DESC, c.cid ASC) AS rn
         |  FROM c, q) WHERE rn <= 3)
         |SELECT x.vec_id, x.label, x.cid, ${cos("x.embedding", "q.qv")} AS cos
         |FROM cells x, probe p, q
         |WHERE x.cid = p.cid AND x.vec_id != 0
         |ORDER BY cos DESC, x.vec_id ASC LIMIT 10""".stripMargin,

    // replays pqTopK: codebook slices (vec_id 1..64, 8 dims per
    // subspace), per-subspace squared-distance argmin with first-min
    // tie-break, LUT dot/norm sums in subspace order, one final
    // normalization — every fold strictly left-to-right, as in Scala
    "ann_pq" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |cb AS (SELECT CAST(vec_id - 1 AS INT) AS c, embedding AS cv
        |  FROM embeddings WHERE vec_id BETWEEN 1 AND 64),
        |percode AS (
        |  SELECT j.j, cb.c,
        |    list_slice(cb.cv, j.j * 8 + 1, j.j * 8 + 8) AS cs,
        |    list_slice(q.qv, j.j * 8 + 1, j.j * 8 + 8) AS qs
        |  FROM cb CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
        |  CROSS JOIN q),
        |luts AS (
        |  SELECT j, list(cs ORDER BY c) AS codes,
        |    list(list_reduce(list_transform(range(1, 9), gi ->
        |      CAST(cs[CAST(gi AS INT)] AS DOUBLE)
        |        * CAST(qs[CAST(gi AS INT)] AS DOUBLE)),
        |      (gx, gy) -> gx + gy) ORDER BY c) AS dots,
        |    list(list_reduce(list_transform(range(1, 9), gi ->
        |      CAST(cs[CAST(gi AS INT)] AS DOUBLE)
        |        * CAST(cs[CAST(gi AS INT)] AS DOUBLE)),
        |      (gx, gy) -> gx + gy) ORDER BY c) AS nrms
        |  FROM percode GROUP BY j),
        |enc AS (
        |  SELECT e.vec_id, e.label, l.j, l.dots, l.nrms,
        |    list_transform(l.codes, cc ->
        |      list_reduce(list_transform(range(1, 9), gi ->
        |        (CAST(e.embedding[CAST(l.j * 8 + gi AS INT)] AS DOUBLE)
        |          - CAST(cc[CAST(gi AS INT)] AS DOUBLE))
        |        * (CAST(e.embedding[CAST(l.j * 8 + gi AS INT)] AS DOUBLE)
        |          - CAST(cc[CAST(gi AS INT)] AS DOUBLE))),
        |        (gx, gy) -> gx + gy)) AS dists
        |  FROM embeddings e CROSS JOIN luts l WHERE e.vec_id <> 0),
        |coded AS (
        |  SELECT vec_id, label, j,
        |    dots[list_position(dists, list_min(dists))] AS dj,
        |    nrms[list_position(dists, list_min(dists))] AS nj
        |  FROM enc),
        |agg AS (
        |  SELECT vec_id, label,
        |    list_reduce(list(dj ORDER BY j), (gx, gy) -> gx + gy) AS dot_sum,
        |    list_reduce(list(nj ORDER BY j), (gx, gy) -> gx + gy) AS nrm_sum
        |  FROM coded GROUP BY vec_id, label),
        |qn AS (SELECT list_reduce(list_transform(range(1, len(qv) + 1), gi ->
        |    CAST(qv[CAST(gi AS INT)] AS DOUBLE)
        |      * CAST(qv[CAST(gi AS INT)] AS DOUBLE)),
        |    (gx, gy) -> gx + gy) AS qq FROM q)
        |SELECT vec_id, label,
        |  dot_sum / (sqrt(nrm_sum) * sqrt(qq)) AS pq_score
        |FROM agg CROSS JOIN qn
        |ORDER BY pq_score DESC, vec_id ASC LIMIT 10""".stripMargin
  )
}
