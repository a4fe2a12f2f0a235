package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim

/** ANN EVALUATION (round 7): `ann_recall` — recall@10 of the int8
  * scalar-quantized shortlist (ann_sq8's retrieval stage) against the
  * exact cosine top-10, measured per anchor IN the engine. Every
  * serious ANN deployment ships this harness next to the index: the
  * quantizer/probe settings are tuned against measured recall, not
  * faith.
  *
  * Parity: the exact side ranks by strict-fold cosines (bit-identical
  * per the CosineSim contract), the shortlist side by an
  * order-independent INTEGER dot of floor(x·127) codes, and both
  * rankings tie-break on vec_id — so the hit count is exact on both
  * engines and the one division to a recall fraction is a single IEEE
  * op. Scale shape: anchors broadcast (5 rows), both ranks come from
  * rank<=k windows over the anchor key (map-side partial
  * WindowGroupLimit prunes each to k·partitions rows pre-shuffle),
  * and the hit join runs on ≤ anchors·40 rows.
  */
object SimilarityQueries4 extends graft.QueryModule {

  private val NAnchors = 5
  private val ShortlistK = 40
  private val TopK = 10

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // IVFPQ — the canonical billion-vector index shape (FAISS
    // IndexIVFPQ): the IVF coarse quantizer prunes the corpus to
    // nprobe cells, then PQ ADC scores ONLY the survivors from
    // per-subspace LUTs — at 100 TB the scan touches nprobe/k_cells
    // of the data and m bytes per candidate, never the stored floats.
    // Composes the two already-oracle-gated stages (ann_ivf's
    // assignment/probe, ann_pq's LUT scorer) so determinism carries
    // over: argmax/argmin tie-breaks to the lowest id, every fold
    // strictly left-to-right — scores bit-equal in DuckDB.
    "ann_ivfpq" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val wc = Window.partitionBy($"label").orderBy($"vec_id".asc)
      val centroids = emb.withColumn("__rn", row_number().over(wc))
        .filter($"__rn" === 1)
        .select($"label".cast("int").as("cid"), $"embedding".as("cv"))
      val q = emb.filter($"vec_id" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val codebook = emb.filter($"vec_id".between(1, 64))
        .select(($"vec_id" - 1).cast("int").as("c"), $"embedding".as("cv"))
      val cells = graft.operators.Similarity.ivfCells(
        emb.filter($"vec_id" =!= 0), "vec_id", "embedding",
        centroids, q, nprobe = 3)
        .select($"vec_id", $"label", $"embedding", $"cid")
      graft.operators.Similarity.pqTopK(cells, "vec_id", "embedding",
          codebook, q, k = 10, m = 8)
        .select($"vec_id", $"label", $"cid".cast("long").as("cid"), $"pq_score")
    },

    // MMR diversity reranking (Carbonell & Goldstein 1998) — the RAG
    // retrieval step after top-k: greedily re-pick 5 of the exact
    // top-20 maximizing 0.5·sim(q,d) − 0.5·max_{s∈S} sim(d,s), so the
    // result set covers the space instead of clustering around the
    // query. The corpus is touched once, by the distributed shortlist
    // scan; the greedy rerank runs on the driver over the bounded
    // 20-row collect (ladder contract below). Parity: every cosine is
    // the strict-fold bit-exact kind, the MMR expression is one fixed
    // tree (0.5·a − 0.5·b), max over selected is order-independent,
    // ties break on vec_id — DuckDB replays the greedy sequence
    // exactly (recursive CTE + LATERAL argmax).
    "ann_diversify" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
      // shortlist: distributed partial top-N; the only corpus touch
      val cand = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .select($"vec_id", $"embedding", cosine_sim($"embedding", $"qv").as("cosq"))
        .orderBy($"cosq".desc, $"vec_id".asc).limit(20)
        .collect() // bounded ladder: EXACTLY 20 rows by construction —
      // the greedy rerank is sequential by definition (each pick
      // depends on all previous), so it runs driver-side like every
      // production reranker; a DataFrame-unrolled form measured 1.7s
      // at sf0.1 in pure per-step scheduling vs 0.33s for this.
      // Arithmetic matches the oracle exactly: strict left-fold
      // cosines (the CosineSim contract), one 0.5·a − 0.5·b tree.
      def fold(a: Seq[Float], b: Seq[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val ids = cand.map(_.getLong(0))
      val vecs = cand.map(_.getSeq[Float](1))
      val cosq = cand.map(_.getDouble(2))
      val n = ids.length
      val selected = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double)]()
      val selectedIdx = scala.collection.mutable.ArrayBuffer[Int]()
      val inSel = new Array[Boolean](n)
      // pick 1: plain cosine argmax (the shortlist is already sorted
      // cosq desc, id asc)
      selected += ((ids(0), 1L, cosq(0), cosq(0))); inSel(0) = true
      selectedIdx += 0
      (2 to 5).foreach { step =>
        var best = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!inSel(i)) {
            var msim = Double.NegativeInfinity
            selectedIdx.foreach { j =>
              val c = fold(vecs(i), vecs(j))
              if (c > msim) msim = c
            }
            val score = 0.5 * cosq(i) - 0.5 * msim
            // ties to the lowest vec_id: strict > keeps the first
            // (lowest-id) maximum because ids scan in ascending cosq
            // rank order... ids are scanned in shortlist order, so
            // equal scores keep the earlier (higher-cosq or lower-id)
            // candidate — matching ORDER BY score DESC, vec_id ASC
            // requires comparing ids on ties explicitly:
            if (score > bestScore ||
              (score == bestScore && best >= 0 && ids(i) < ids(best))) {
              bestScore = score; best = i
            }
          }
          i += 1
        }
        selected += ((ids(best), step.toLong, cosq(best), bestScore))
        selectedIdx += best
        inSel(best) = true
      }
      s.createDataFrame(selected.toSeq).toDF("vec_id", "pick_order", "cosq", "score")
    },

    // filtered (metadata-constrained) ANN — "top-k similar WHERE
    // label = 3", the hybrid search every vector store ships. The
    // predicate is a plain Catalyst filter, so it reaches the parquet
    // scan as a pushed filter and the cosine kernel only ever runs on
    // the surviving rows (PRE-filtering; a post-filtered top-k both
    // over-scans and under-returns). Plan-audited in PlanAuditSpec.
    "ann_filtered" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
      emb.filter($"vec_id" =!= 0 && $"label" === 3)
        .crossJoin(broadcast(q))
        .select($"vec_id", $"label".cast("long").as("label"),
          cosine_sim($"embedding", $"qv").as("cos"))
        .orderBy($"cos".desc, $"vec_id".asc).limit(10)
    },

    "ann_recall" -> { (s, dir) =>
      import s.implicits._
      val qz = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D) AS BIGINT))")
      val emb = Tables.load(s, dir, "embeddings").withColumn("qz", qz)
      val anchors = emb.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"), $"qz".as("qqz"))
      val cand = emb.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(anchors))
        .select($"q_id", $"vec_id",
          cosine_sim($"embedding", $"qv").as("cos"),
          expr("aggregate(zip_with(qz, qqz, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("dotq"))
        .persist() // feeds both rankings; one kernel pass
      val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val wS = Window.partitionBy($"q_id").orderBy($"dotq".desc, $"vec_id".asc)
      val exact = cand.withColumn("rk", row_number().over(wE))
        .filter($"rk" <= TopK).select($"q_id", $"vec_id")
      val shortlist = cand.withColumn("rk", row_number().over(wS))
        .filter($"rk" <= ShortlistK).select($"q_id", $"vec_id")
      exact.join(shortlist, Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"q_id").agg(count(lit(1)).as("hits"))
        .select($"q_id", $"hits",
          ($"hits".cast("double") / lit(TopK.toDouble)).as("recall"))
    }
  )

  private def dot(x: String, y: String) =
    s"""list_reduce(list_transform(range(1, len($x) + 1),
       | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
       | (gx, gy) -> gx + gy)""".stripMargin
  private def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  val oracles: Seq[(String, String)] = Seq(
    // pairwise candidate cosines precomputed in a flat CTE (20x20
    // rows) so the recursive greedy needs no lambdas — DuckDB's binder
    // rejects outer-lambda captures inside LATERAL within a recursive
    // CTE (plain SELECTs handle them fine, see ann_pq)
    "ann_diversify" ->
      s"""WITH RECURSIVE
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id, e.embedding, ${cos("e.embedding", "q.qv")} AS cosq
         |  FROM embeddings e, q WHERE e.vec_id != 0
         |  ORDER BY cosq DESC, e.vec_id ASC LIMIT 20),
         |pc AS (
         |  SELECT a.vec_id AS aid, b.vec_id AS bid,
         |    ${cos("a.embedding", "b.embedding")} AS cosab
         |  FROM cand a, cand b WHERE a.vec_id != b.vec_id),
         |sel AS (
         |  SELECT 1 AS step, c.vec_id, c.cosq, c.cosq AS score,
         |    [c.vec_id] AS ids
         |  FROM (SELECT * FROM cand ORDER BY cosq DESC, vec_id ASC LIMIT 1) c
         |  UNION ALL
         |  SELECT s.step + 1, p.vec_id, p.cosq, p.score,
         |    list_append(s.ids, p.vec_id)
         |  FROM sel s, LATERAL (
         |    SELECT c.vec_id, c.cosq,
         |      0.5 * c.cosq - 0.5 * (SELECT max(pc.cosab) FROM pc
         |        WHERE pc.aid = c.vec_id AND list_contains(s.ids, pc.bid))
         |        AS score
         |    FROM cand c WHERE NOT list_contains(s.ids, c.vec_id)
         |    ORDER BY score DESC, c.vec_id ASC LIMIT 1) p
         |  WHERE s.step < 5)
         |SELECT vec_id, CAST(step AS BIGINT) AS pick_order, cosq, score
         |FROM sel""".stripMargin,

    // ann_ivf's cells/probe CTEs + ann_pq's LUT scorer over only the
    // probed survivors — fold orders and tie-breaks identical to both
    // parents, so the composite stays bit-exact
    "ann_ivfpq" ->
      s"""WITH c AS (SELECT CAST(e.label AS INT) AS cid, e.embedding AS cv
         |  FROM embeddings e
         |  JOIN (SELECT min(vec_id) AS mv FROM embeddings GROUP BY label) m
         |    ON e.vec_id = m.mv),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |asg AS (SELECT vec_id, label, embedding, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos_vc DESC, cid ASC) AS rn
         |  FROM (SELECT e.vec_id, e.label, e.embedding, c.cid,
         |    ${cos("e.embedding", "c.cv")} AS cos_vc
         |    FROM embeddings e, c WHERE e.vec_id != 0)),
         |probe AS (SELECT cid FROM (SELECT c.cid,
         |    row_number() OVER (ORDER BY ${cos("q.qv", "c.cv")} DESC, c.cid ASC)
         |      AS rn FROM c, q) WHERE rn <= 3),
         |cells AS (SELECT a.vec_id, a.label, a.embedding, a.cid
         |  FROM asg a JOIN probe p ON a.cid = p.cid WHERE a.rn = 1),
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
         |  SELECT e.vec_id, e.label, e.cid, l.j, l.dots, l.nrms,
         |    list_transform(l.codes, cc ->
         |      list_reduce(list_transform(range(1, 9), gi ->
         |        (CAST(e.embedding[CAST(l.j * 8 + gi AS INT)] AS DOUBLE)
         |          - CAST(cc[CAST(gi AS INT)] AS DOUBLE))
         |        * (CAST(e.embedding[CAST(l.j * 8 + gi AS INT)] AS DOUBLE)
         |          - CAST(cc[CAST(gi AS INT)] AS DOUBLE))),
         |        (gx, gy) -> gx + gy)) AS dists
         |  FROM cells e CROSS JOIN luts l),
         |coded AS (
         |  SELECT vec_id, label, cid, j,
         |    dots[list_position(dists, list_min(dists))] AS dj,
         |    nrms[list_position(dists, list_min(dists))] AS nj
         |  FROM enc),
         |agg AS (
         |  SELECT vec_id, label, cid,
         |    list_reduce(list(dj ORDER BY j), (gx, gy) -> gx + gy) AS dot_sum,
         |    list_reduce(list(nj ORDER BY j), (gx, gy) -> gx + gy) AS nrm_sum
         |  FROM coded GROUP BY vec_id, label, cid),
         |qn AS (SELECT list_reduce(list_transform(range(1, len(qv) + 1), gi ->
         |    CAST(qv[CAST(gi AS INT)] AS DOUBLE)
         |      * CAST(qv[CAST(gi AS INT)] AS DOUBLE)),
         |    (gx, gy) -> gx + gy) AS qq FROM q)
         |SELECT vec_id, label, CAST(cid AS BIGINT) AS cid,
         |  dot_sum / (sqrt(nrm_sum) * sqrt(qq)) AS pq_score
         |FROM agg CROSS JOIN qn
         |ORDER BY pq_score DESC, vec_id ASC LIMIT 10""".stripMargin,

    "ann_filtered" ->
      s"""SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
         |  ${cos("e.embedding", "q.qv")} AS cos
         |FROM embeddings e,
         |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id != 0 AND e.label = 3
         |ORDER BY cos DESC, e.vec_id ASC LIMIT 10""".stripMargin,

    "ann_recall" ->
      s"""WITH z AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding,
         |      gx -> CAST(floor(CAST(gx AS DOUBLE) * 127.0) AS BIGINT)) AS qz
         |  FROM embeddings),
         |a AS (SELECT vec_id AS q_id, embedding AS qv, qz AS qqz
         |      FROM z WHERE vec_id < $NAnchors),
         |c AS (
         |  SELECT a.q_id, z.vec_id, ${cos("z.embedding", "a.qv")} AS cos,
         |    CAST(list_reduce(list_transform(range(1, len(z.qz) + 1),
         |      gi -> z.qz[CAST(gi AS INT)] * a.qqz[CAST(gi AS INT)]),
         |      (ga, gx) -> ga + gx) AS BIGINT) AS dotq
         |  FROM z, a WHERE z.vec_id >= $NAnchors),
         |ex AS (SELECT q_id, vec_id FROM c
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id ASC) <= $TopK),
         |sl AS (SELECT q_id, vec_id FROM c
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |    ORDER BY dotq DESC, vec_id ASC) <= $ShortlistK)
         |SELECT ex.q_id, CAST(count(*) AS BIGINT) AS hits,
         |  CAST(count(*) AS DOUBLE) / ${TopK.toDouble} AS recall
         |FROM ex JOIN sl ON ex.q_id = sl.q_id AND ex.vec_id = sl.vec_id
         |GROUP BY ex.q_id""".stripMargin
  )
}
