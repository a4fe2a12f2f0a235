package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19/20 similarity additions.
  *
  * `ann_index_freshness` (round 20 — VERDICT r19 task 6): the batch
  * face of the build/maintain/serve freshness triangle — compares the
  * pinned k-NN-graph artifact (the durable index every graph consumer
  * walks) against the SOURCE corpus it claims to cover: indexed-node
  * count vs the node set (vec_id >= NAnchors), max ids both sides,
  * the count of source nodes the index has no out-edges for, and an
  * exact `is_fresh` verdict. Deliberately EDGE-based (n_missing is an
  * out-degree-0 audit — the complement of ann_index_stats' in-degree
  * axis; 0 on this corpus): the artifact also carries an explicit
  * `members` list, which the STREAMING reader consults for the exact
  * membership check (an edge-less member is legitimate and must not
  * read stale). On the never-mutated test corpus the
  * report reads fresh by construction — the query's value is the
  * SHAPE (a bounded one-row audit over the degree-bounded edge
  * frame, O(|edges|)); the streaming face
  * ([[graft.streaming.StreamingOps.annIndexFreshness]]) runs the
  * same comparison against a LIVE knnGraphMaintained state, where
  * staleness actually arises (spec-pinned over an advancing stream).
  *
  * `ann_serve_topk` (round 20 — VERDICT r19 task 2's kernel under the
  * oracle gate): the SERVE surface itself — the exact
  * [[graft.operators.KnnServe.search]] walk the `knnsearch` YAML
  * stage and the `POST /api/index/search` route execute — run as a
  * gated query over the session's pinned graph artifact: per-anchor
  * width-8 beam walk, then the top-3 frontier rows
  * (q_id, rank, neighbor_id, cos). The oracle replays the entry +
  * 6-step walk + rank cut in SQL (the shared graphCtes/walkCtes
  * machinery — every cosine a strict left fold, ranking
  * (c DESC, node ASC), so rank rows are bit-equal). ann_graph_search
  * gates the walk's top-1 against the exact answer; THIS gates the
  * full ranked k-list a serving deployment actually returns.
  *
  * `ann_index_stats` — k-NN-GRAPH INDEX HEALTH audit (the
  * ann_centroid_balance of the graph stack, over the round-19 durable
  * artifact): beam search can only reach a node through its IN-edges,
  * so the numbers a graph-ANN deployment watches are the in-degree
  * distribution (skew = hub nodes absorb the beam), the count of
  * UNREACHABLE nodes (in-degree 0 — invisible to every walk no matter
  * the ef), and reciprocity (mutual edges — HNSW-family graphs rely on
  * bidirectional links for recall; a low rate means many one-way
  * shortcuts). One summary row, all exact integers into two final IEEE
  * divisions (identical trees both engines).
  *
  * Scale shape: the edge frame is the SHARED pinned artifact
  * (buildGraph — built once per session/deployment, degree-bounded so
  * |edges| ≤ 6n); in-degrees are one partial-agg groupBy on dst; the
  * distribution rolls up to a ≤|distinct in-degree|-row HISTOGRAM
  * (degree-bounded, never corpus-sorted) and the p50/p90 read off its
  * running sum with the exact ceil(q·n) rank rule (the
  * corpus_ppl_buckets histogram-cut discipline — no global window);
  * reciprocity is a self-join on the degree-bounded edge frame keyed
  * (dst, src). Nothing here scales past O(|edges|).
  */
object SimilarityQueries11 extends graft.QueryModule {

  import SimilarityQueries6.{NAnchors, buildGraph}

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "ann_index_stats" -> { (s, dir) =>
      import s.implicits._
      val g = buildGraph(s, dir)
      val nodes = g.nodes.select($"vec_id")
      // in-degree per node, zero-in-degree nodes included (they are
      // the finding)
      val indeg = nodes
        .join(g.edges.groupBy($"dst".as("vec_id"))
          .agg(count(lit(1)).as("ind")), Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"ind", lit(0L)).as("ind"))
      // degree-bounded histogram + running sum: the quantile cut reads
      // off cumulative counts, never a corpus-wide sort
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"ind".asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val hist = indeg.groupBy($"ind").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(w))
      val totals = indeg.agg(
        count(lit(1)).as("n_nodes"),
        sum(when($"ind" === 0L, 1L).otherwise(0L)).as("n_unreachable"))
      // exact ceil(q·n) 1-based rank rule (quantile_disc): the p-th
      // in-degree is the smallest histogram bin whose cum reaches the
      // rank. q50 rank = ceil(n/2), q90 rank = ceil(9n/10) — integer
      // arithmetic only ((x + d - 1) DIV d)
      val cuts = hist.crossJoin(broadcast(totals))
        .agg(
          min(when($"cum" >= expr("(n_nodes + 1) DIV 2"), $"ind"))
            .as("p50_in"),
          min(when($"cum" >= expr("(n_nodes * 9 + 9) DIV 10"), $"ind"))
            .as("p90_in"),
          max($"ind").as("max_in"))
      val edgeStats = g.edges.agg(count(lit(1)).as("n_edges"))
      // reciprocity: edges whose reverse edge exists (degree-bounded
      // self-join on the (src, dst) key)
      val recip = g.edges
        .join(g.edges.select($"dst".as("src"), $"src".as("dst")),
          Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("n_recip"))
      totals.crossJoin(cuts).crossJoin(edgeStats).crossJoin(recip)
        .select($"n_nodes", $"n_edges", $"n_unreachable",
          $"p50_in", $"p90_in", $"max_in", $"n_recip",
          ($"n_unreachable".cast("double") / $"n_nodes".cast("double"))
            .as("unreachable_rate"),
          ($"n_recip".cast("double") / $"n_edges".cast("double"))
            .as("reciprocity"))
    },

    "ann_index_freshness" -> { (s, dir) =>
      import s.implicits._
      val g = buildGraph(s, dir)
      val srcNodes = g.nodes.select($"vec_id".cast("long").as("id"))
      val idxNodes = g.edges.select($"src".as("id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      srcNodes
        .agg(count(lit(1)).as("n_source_nodes"),
          max($"id").as("max_source_id"))
        .crossJoin(idxNodes.agg(count(lit(1)).as("n_index_nodes"),
          max($"id").as("max_index_id")))
        .crossJoin(srcNodes.join(idxNodes, Seq("id"), "left_anti")
          .agg(count(lit(1)).as("n_missing")))
        .select($"n_index_nodes", $"max_index_id",
          $"n_source_nodes", $"max_source_id", $"n_missing",
          ($"n_missing" === 0L &&
            $"n_index_nodes" === $"n_source_nodes").as("is_fresh"))
    },

    "ann_serve_topk" -> { (s, dir) =>
      import s.implicits._
      val g = buildGraph(s, dir)
      // the serve kernel's Resolved shape over the session's pinned
      // artifact: entry = the query-layer id_below_k convention
      // (centroid vectors at/above the node floor ARE entry nodes)
      val resolved = graft.operators.KnnServe.Resolved(
        "session", g.edges, g.nodes,
        g.centroids.filter($"cid" >= NAnchors)
          .select($"cid".as("node"), $"cv".as("nv")))
      graft.operators.KnnServe.search(s, resolved, g.anchors,
          k = 3, beam = 8, steps = 6)
        .select($"q_id", $"rank", $"neighbor_id".cast("long").as("neighbor_id"),
          $"cos")
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "ann_index_stats" ->
      s"""WITH ${SimilarityQueries6.graphCtes(materialized = true)},
         |ind AS (SELECT n.vec_id,
         |    CAST(coalesce(d.ind, 0) AS BIGINT) AS ind
         |  FROM nodes n LEFT JOIN (
         |    SELECT dst AS vec_id, CAST(count(*) AS BIGINT) AS ind
         |    FROM edges GROUP BY dst) d ON n.vec_id = d.vec_id),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(CASE WHEN ind = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unreachable
         |  FROM ind),
         |hist AS (SELECT ind, CAST(count(*) AS BIGINT) AS cnt FROM ind
         |  GROUP BY ind),
         |cum AS (SELECT ind,
         |    CAST(sum(cnt) OVER (ORDER BY ind ASC) AS BIGINT) AS cum
         |  FROM hist),
         |cuts AS (SELECT
         |    min(CASE WHEN cum >= (n_nodes + 1) // 2 THEN ind END)
         |      AS p50_in,
         |    min(CASE WHEN cum >= (n_nodes * 9 + 9) // 10 THEN ind END)
         |      AS p90_in,
         |    max(ind) AS max_in
         |  FROM cum CROSS JOIN tot),
         |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges),
         |rc AS (SELECT CAST(count(*) AS BIGINT) AS n_recip
         |  FROM edges e WHERE EXISTS (SELECT 1 FROM edges r
         |    WHERE r.src = e.dst AND r.dst = e.src))
         |SELECT n_nodes, n_edges, n_unreachable, p50_in, p90_in, max_in,
         |  n_recip,
         |  CAST(n_unreachable AS DOUBLE) / CAST(n_nodes AS DOUBLE)
         |    AS unreachable_rate,
         |  CAST(n_recip AS DOUBLE) / CAST(n_edges AS DOUBLE) AS reciprocity
         |FROM tot CROSS JOIN cuts CROSS JOIN es CROSS JOIN rc""".stripMargin,

    "ann_index_freshness" ->
      s"""WITH ${SimilarityQueries6.graphCtes(materialized = true)},
         |srcn AS (SELECT CAST(vec_id AS BIGINT) AS id FROM nodes),
         |idxn AS (SELECT DISTINCT CAST(src AS BIGINT) AS id FROM edges),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_source_nodes,
         |    max(id) AS max_source_id FROM srcn),
         |it AS (SELECT CAST(count(*) AS BIGINT) AS n_index_nodes,
         |    max(id) AS max_index_id FROM idxn),
         |ms AS (SELECT CAST(count(*) AS BIGINT) AS n_missing FROM srcn s
         |  WHERE NOT EXISTS (SELECT 1 FROM idxn i WHERE i.id = s.id))
         |SELECT n_index_nodes, max_index_id, n_source_nodes,
         |  max_source_id, n_missing,
         |  (n_missing = 0 AND n_index_nodes = n_source_nodes) AS is_fresh
         |FROM st CROSS JOIN it CROSS JOIN ms""".stripMargin,

    "ann_serve_topk" -> {
      import SimilarityQueries6.{cos, graphCtes, walkCtes, Steps, Beam}
      s"""WITH ${graphCtes(materialized = false)},
         |w0 AS (SELECT q_id, cid AS node, ec AS c
         |  FROM (SELECT a.q_id, c.cid,
         |      ${cos("a.qv", "c.cv")} AS ec,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("a.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM a CROSS JOIN cen c WHERE c.cid >= $NAnchors)
         |  WHERE rn <= $Beam),
         |${walkCtes("w")}
         |SELECT q_id, CAST(rn AS BIGINT) AS rank,
         |  CAST(node AS BIGINT) AS neighbor_id, c AS cos
         |FROM (SELECT q_id, node, c,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, node ASC) AS rn
         |  FROM w$Steps)
         |WHERE rn <= 3""".stripMargin
    }
  )
}
