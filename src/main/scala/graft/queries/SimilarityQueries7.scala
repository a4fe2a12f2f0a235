package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Clustering

/** `ann_ivfpq_trained` (round 10) — TRAINED product-quantization
  * codebooks, closing VERDICT r9's observation that the gated
  * ann_ivfpq/ann_pq recall is the SEED codebook's (vec_id 1-64 slices,
  * never trained). This query trains per-subspace codebooks the way
  * FAISS does (k-means in each of the m subspaces over the corpus'
  * subvectors — Jégou et al. 2011 §III) and gates the resulting
  * retrieval quality: recall@10 against the exact neighbors, reported
  * side by side for the SEED codebook (the first K corpus vectors'
  * subvectors, the ann_ivf deterministic-seed convention) and the
  * TRAINED one (3 Lloyd rounds from those same seeds) over the
  * identical ADC scan — the ann_quant_ablation reporting shape. The
  * ablation isolates the codebook: the IVF coarse stage is orthogonal
  * (identical candidates either way) and already gated in ann_ivfpq.
  *
  * Replay discipline (the ann_kmeans fixed-point contract): vectors
  * are quantized to non-negative integers (floor((x+1)·10^6)), every
  * subspace distance is an exact integer Σ(a−b)², argmin ties break to
  * the lowest code id, centroid updates are truncating integer means
  * (`sum DIV count` — non-negative operands, so Spark DIV == DuckDB
  * //), empty codes keep their prior centroid, and ALL Lloyd rounds
  * unroll as CTE pairs in the oracle. ADC, the exact ranking, and the
  * hit counts are all integer; the only doubles are the final
  * hits/10.0 divisions. Overflow: coords ≤ 2·10^6 → a subspace d2 ≤
  * 8·(2·10^6)² = 3.2·10^13 and the 64-dim exact d2 ≤ 2.6·10^14 —
  * far inside 2^63 (both engines throw on overflow, asserted bound).
  *
  * Scale shape: per-subspace k-means is m×K-bounded state iterated a
  * fixed Iters rounds (one broadcast join + one (vec,sub)-keyed argmin
  * window + one (sub,cid)-keyed rollup per round — at 100 TB the
  * training pass runs on a sample, the FAISS practice; the committed
  * query trains on the full sf corpus because it IS the sample). The
  * scoring scan touches only code ids per candidate (m small ints) and
  * per-anchor LUTs of m·K integer distances — the memory-bound
  * billion-vector path; ranks ride keyed rank<=k windows (map-side
  * WindowGroupLimit), and the exact side is anchors-bounded (5 rows
  * broadcast).
  */
object SimilarityQueries7 extends graft.QueryModule {

  private val M = 8 // subspaces
  private val SubDim = 8 // dims per subspace (64 / M)
  private val K = 16 // codes per subspace
  private val Iters = 3
  private val NAnchors = 5
  private val TopK = 10

  /** Integer squared-L2 between two equal-length long arrays (native
    * codegen'd expression since round 16 — same arithmetic). */
  private def d2c(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.sq_dist(a, b)

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ann_ivfpq_trained" -> { (s, dir) =>
      import s.implicits._
      val pts = Tables.load(s, dir, "embeddings")
        .select($"vec_id", Clustering.quantize($"embedding").as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val subs = pts.select($"vec_id", posexplode(array(
          (0 until M).map(j => slice($"qv", j * SubDim + 1, SubDim)): _*))
          .as(Seq("sub", "sv")))
        .select($"vec_id", $"sub".cast("long").as("sub"), $"sv")
      val corpusSubs = subs.filter($"vec_id" >= NAnchors)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val anchorSubs = subs.filter($"vec_id" < NAnchors)

      def assign(cb: DataFrame): DataFrame = {
        val w = Window.partitionBy($"vec_id", $"sub")
          .orderBy($"d2".asc, $"cid".asc)
        corpusSubs.join(broadcast(cb), Seq("sub"))
          .withColumn("d2", d2c($"sv", $"cv"))
          .withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
          .select($"vec_id", $"sub", $"sv", $"cid")
      }

      // seed codebook: subvectors of the first K corpus vectors
      val c0 = corpusSubs
        .filter($"vec_id".between(NAnchors, NAnchors + K - 1))
        .select($"sub", ($"vec_id" - NAnchors).as("cid"), $"sv".as("cv"))
      // Iters Lloyd rounds per subspace, all m subspaces in one frame
      val cT = (1 to Iters).foldLeft(c0) { (prev, _) =>
        val sums = assign(prev).groupBy($"sub", $"cid").agg(
          expr(s"CAST(sum(element_at(sv, 1)) DIV count(1) AS BIGINT)")
            .as("q1"),
          (2 to SubDim).map(i =>
            expr(s"CAST(sum(element_at(sv, $i)) DIV count(1) AS BIGINT)")
              .as(s"q$i")): _*)
        val upd = sums.select($"sub", $"cid",
          array((1 to SubDim).map(i => col(s"q$i")): _*).as("ucv"))
        prev.join(upd, Seq("sub", "cid"), "left")
          .select($"sub", $"cid", coalesce($"ucv", $"cv").as("cv"))
      }

      // exact ground truth: integer L2 on the full quantized vectors
      val anchors = pts.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("qid"), $"qv".as("aqv"))
      val wq = Window.partitionBy($"qid").orderBy($"d".asc, $"vec_id".asc)
      val exactTop = pts.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(anchors))
        .select($"qid", $"vec_id", d2c($"qv", $"aqv").as("d"))
        .withColumn("__rn", row_number().over(wq)).filter($"__rn" <= TopK)
        .select($"qid", $"vec_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      def recallOf(cb: DataFrame, variant: String): DataFrame = {
        val lut = anchorSubs.join(broadcast(cb), Seq("sub"))
          .select($"vec_id".as("qid"), $"sub", $"cid",
            d2c($"sv", $"cv").as("dl"))
        val wa = Window.partitionBy($"qid").orderBy($"adc".asc, $"vec_id".asc)
        val top = assign(cb).select($"vec_id", $"sub", $"cid")
          .join(broadcast(lut), Seq("sub", "cid"))
          .groupBy($"qid", $"vec_id").agg(sum($"dl").as("adc"))
          .withColumn("__rn", row_number().over(wa)).filter($"__rn" <= TopK)
        val hits = top.join(exactTop, Seq("qid", "vec_id"), "left_semi")
          .groupBy($"qid").agg(count(lit(1)).as("hits"))
        anchors.select($"qid").join(hits, Seq("qid"), "left")
          .select(lit(variant).as("variant"), $"qid",
            coalesce($"hits", lit(0L)).as("hits"),
            (coalesce($"hits", lit(0L)).cast("double") / TopK).as("recall"))
      }

      recallOf(c0, "seed").unionByName(recallOf(cT, "trained"))
        .orderBy($"variant", $"qid")
    }
  )

  /** 8-dim / 64-dim integer squared-L2 in DuckDB. */
  private def d2sql(a: String, b: String, dim: Int): String =
    s"""list_reduce(list_transform(range(1, ${dim + 1}),
       | gi -> ($a[CAST(gi AS INT)] - $b[CAST(gi AS INT)])
       |   * ($a[CAST(gi AS INT)] - $b[CAST(gi AS INT)])),
       | (gx, gy) -> gx + gy)""".stripMargin

  /** One grouped-Lloyd round over all subspaces (the ann_kmeans
    * iterSql pattern + the `sub` key).
    */
  private def iterSql(j: Int): String =
    s"""a$j AS (
       |  SELECT vec_id, sub, sv, cid FROM (
       |    SELECT vec_id, sub, sv, cid, row_number() OVER (
       |      PARTITION BY vec_id, sub ORDER BY d2 ASC, cid ASC) AS rn
       |    FROM (SELECT s.vec_id, s.sub, s.sv, c.cid,
       |            ${d2sql("s.sv", "c.cv", SubDim)} AS d2
       |          FROM csb s JOIN c${j - 1} c USING (sub))) WHERE rn = 1),
       |u$j AS (
       |  SELECT sub, cid, gi AS pos,
       |    CAST(CAST(sum(sv[CAST(gi AS INT)]) AS BIGINT) // count(*) AS BIGINT)
       |      AS nq
       |  FROM a$j, range(1, ${SubDim + 1}) t(gi) GROUP BY sub, cid, gi),
       |c$j AS (
       |  SELECT s.sub, s.cid, coalesce(u.cv, s.cv) AS cv
       |  FROM c${j - 1} s LEFT JOIN (
       |    SELECT sub, cid, list(nq ORDER BY pos) AS cv FROM u$j
       |    GROUP BY sub, cid) u
       |  ON s.sub = u.sub AND s.cid = u.cid)""".stripMargin

  /** Assignment + LUT + ADC + top-k + hit count for one codebook. */
  private def variantSql(cb: String, tag: String): String =
    s"""asg_$tag AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT s.vec_id, s.sub, c.cid, row_number() OVER (
       |      PARTITION BY s.vec_id, s.sub
       |      ORDER BY ${d2sql("s.sv", "c.cv", SubDim)} ASC, c.cid ASC) AS rn
       |    FROM csb s JOIN $cb c USING (sub)) WHERE rn = 1),
       |lut_$tag AS (
       |  SELECT a.vec_id AS qid, a.sub, c.cid,
       |    ${d2sql("a.sv", "c.cv", SubDim)} AS dl
       |  FROM asb a JOIN $cb c USING (sub)),
       |top_$tag AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT g.qid, g.vec_id, row_number() OVER (
       |      PARTITION BY g.qid ORDER BY g.adc ASC, g.vec_id ASC) AS rn
       |    FROM (SELECT l.qid, x.vec_id, CAST(sum(l.dl) AS BIGINT) AS adc
       |          FROM asg_$tag x JOIN lut_$tag l
       |            ON x.sub = l.sub AND x.cid = l.cid
       |          GROUP BY l.qid, x.vec_id) g) WHERE rn <= $TopK),
       |hit_$tag AS (
       |  SELECT t.qid, CAST(count(*) AS BIGINT) AS hits
       |  FROM top_$tag t JOIN extop e
       |    ON t.qid = e.qid AND t.vec_id = e.vec_id
       |  GROUP BY t.qid)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "ann_ivfpq_trained" ->
      s"""WITH pts AS (
         |  SELECT vec_id, list_transform(embedding,
         |    gx -> CAST(floor((CAST(gx AS DOUBLE) + 1.0) * 1000000.0)
         |      AS BIGINT)) AS qv
         |  FROM embeddings),
         |sb0 AS (SELECT vec_id, CAST(unnest(range(0, $M)) AS BIGINT) AS sub,
         |    qv FROM pts),
         |sb AS (SELECT vec_id, sub,
         |    list_slice(qv, CAST(sub * $SubDim + 1 AS INT),
         |      CAST(sub * $SubDim + $SubDim AS INT)) AS sv
         |  FROM sb0),
         |csb AS (SELECT * FROM sb WHERE vec_id >= $NAnchors),
         |asb AS (SELECT * FROM sb WHERE vec_id < $NAnchors),
         |c0 AS (SELECT sub, CAST(vec_id - $NAnchors AS BIGINT) AS cid,
         |    sv AS cv
         |  FROM csb WHERE vec_id BETWEEN $NAnchors AND ${NAnchors + K - 1}),
         |${(1 to Iters).map(iterSql).mkString(",\n")},
         |extop AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT a.vec_id AS qid, p.vec_id, row_number() OVER (
         |      PARTITION BY a.vec_id
         |      ORDER BY ${d2sql("p.qv", "a.qv", M * SubDim)} ASC,
         |        p.vec_id ASC) AS rn
         |    FROM (SELECT * FROM pts WHERE vec_id >= $NAnchors) p,
         |         (SELECT * FROM pts WHERE vec_id < $NAnchors) a)
         |  WHERE rn <= $TopK),
         |${variantSql("c0", "seed")},
         |${variantSql(s"c$Iters", "tr")},
         |aq AS (SELECT DISTINCT vec_id AS qid FROM pts
         |       WHERE vec_id < $NAnchors)
         |SELECT 'seed' AS variant, aq.qid,
         |  coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / $TopK AS recall
         |FROM aq LEFT JOIN hit_seed h USING (qid)
         |UNION ALL
         |SELECT 'trained' AS variant, aq.qid,
         |  coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / $TopK AS recall
         |FROM aq LEFT JOIN hit_tr h USING (qid)
         |ORDER BY variant, qid""".stripMargin
  )
}
