package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.words
import graft.operators.Dedup

/** `dedup_cluster_stats` (round 9) — the DEDUP REPORT: the cluster-size
  * histogram every dedup run prints before anyone trusts it (how much
  * of the corpus is duplicated, in how many groups, how large do groups
  * get). Chain: simhash near-dup pairs (the dedup_simhash operating
  * point) → connected components → per-component size → size histogram
  * (size, n_clusters, n_docs). Singleton components ARE rows here —
  * a report that hides the unduplicated mass misreads dup rate.
  *
  * Scale shape: the pair graph + CC are the audited dedup_clusters
  * path; the rollup is two tiny integer aggregations past it (the
  * component-size groupBy keys on the high-cardinality component id,
  * then a |distinct sizes|-row histogram). Oracle replays the full
  * chain through the shared recursive-CTE closure.
  */
object DedupQueries5 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_cluster_stats" -> { (s, dir) =>
      // shared pinned component labeling (round 20 batch 3) — the CC
      // loop this rollup sat behind now runs once per session
      val comp = GraphEdges.simhashComponents(s, dir)
      comp.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "dedup_cluster_stats" ->
      s"""${DedupQueries.clustersCtePrefix},
         |comp AS (SELECT u AS doc_id, min(lbl) AS component
         |  FROM reach GROUP BY u),
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY component)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size""".stripMargin
  )
}
