package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** One family of registered queries: each key maps to its Spark plan
  * and, when the operator is SQL-expressible, to its DuckDB oracle.
  * Entries are Seqs, not Map literals, so a duplicated key reaches
  * [[SparkEntry.registry]] and refuses instead of silently vanishing.
  */
trait QueryModule {
  def defs: Seq[(String, (SparkSession, String) => DataFrame)]
  def oracles: Seq[(String, String)]
}

/** Query registry and entry point (SURVEY.md §7). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every query module, each named exactly once. */
  private val modules: Seq[QueryModule] = Seq(
    RelationalQueries, RelationalQueries2, RelationalQueries3,
    RelationalQueries4, RelationalQueries5, RelationalQueries6,
    RelationalQueries7, RelationalQueries8, RelationalQueries9,
    RelationalQueries10, RelationalQueries11, RelationalQueries12,
    RelationalQueries13, RelationalQueries14, RelationalQueries15,
    RelationalQueries16, RelationalQueries17, RelationalQueries18,
    RelationalQueries19, RelationalQueries20, RelationalQueries21,
    RelationalQueries22, RelationalQueries23,
    EventQueries, EventQueries2, EventQueries3,
    TextQueries, TextQueries2, TextQueries3, TextQueries4,
    TextQueries5, TextQueries6, TextQueries7, TextQueries8,
    DedupQueries, DedupQueries2, DedupQueries3, DedupQueries4,
    DedupQueries5, DedupQueries6, DedupQueries7, DedupQueries8,
    SimilarityQueries, SimilarityQueries2, SimilarityQueries3,
    SimilarityQueries4, SimilarityQueries5, SimilarityQueries6,
    SimilarityQueries7, SimilarityQueries8, SimilarityQueries9,
    SimilarityQueries10, SimilarityQueries11,
    ClusterQueries, PipelineQueries,
    MultimodalQueries, MultimodalQueries2, MultimodalQueries3,
    CorpusQueries, CorpusQueries2, CorpusQueries3, CorpusQueries4,
    CorpusQueries5, CorpusQueries6, CorpusQueries7, CorpusQueries8,
    CorpusQueries9, CorpusQueries10,
    FeatureQueries, FeatureQueries2, FeatureQueries3, FeatureQueries4,
    SketchQueries)

  /** Merge `modules` into the (queries, oracleSql) maps. Refuses a
    * query key defined twice (within or across modules), an oracle
    * key defined twice, and an oracle with no query — each naming the
    * key and the modules involved.
    */
  private[graft] def registry(modules: Seq[QueryModule])
      : (Map[String, (SparkSession, String) => DataFrame], Map[String, String]) = {
    def name(m: QueryModule) = m.getClass.getSimpleName.stripSuffix("$")
    def unique[V](kind: String, es: Seq[(String, QueryModule, V)]): Map[String, V] = {
      val byKey = es.groupBy(_._1)
      es.find(e => byKey(e._1).size > 1).foreach { case (k, _, _) =>
        throw new IllegalArgumentException(s"duplicate $kind key `$k` in " +
          byKey(k).map(e => name(e._2)).mkString(" and "))
      }
      es.map { case (k, _, v) => k -> v }.toMap
    }
    val qs = unique("query", modules.flatMap(m => m.defs.map(d => (d._1, m, d._2))))
    val os = unique("oracle", modules.flatMap(m => m.oracles.map(o => (o._1, m, o._2))))
    modules.foreach(m => m.oracles.find(o => !qs.contains(o._1)).foreach(o =>
      throw new IllegalArgumentException(
        s"oracle key `${o._1}` in ${name(m)} has no query")))
    (qs, os)
  }

  private val built = registry(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = built._1

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  val oracleSql: Map[String, String] = built._2
}
