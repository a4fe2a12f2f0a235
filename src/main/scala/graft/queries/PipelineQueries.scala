package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{PipelineRunner, PipelineSpec, SourceSpec, SinkSpec, TransformSpec}

/** Pipeline-framework queries (SURVEY.md §2.1): each drives the real
  * ConfigParser-shaped spec through PipelineRunner.buildBatch, i.e. the
  * same code path a YAML-configured job takes (reference pipelines:
  * csv-to-parquet's filter, text-to-text's map, columnMapping).
  */
object PipelineQueries extends graft.QueryModule {

  private val noSink = SinkSpec("file", Map("path" -> "/tmp/graft-unused"))

  private def run(s: SparkSession, spec: PipelineSpec): DataFrame =
    PipelineRunner.buildBatch(s, spec)

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // reference csv-to-parquet: filter records whose `status`-like column
    // contains a value (PipelineBuilder.SerializableFilter semantics)
    "pipe_filter" -> { (s, dir) =>
      run(s, PipelineSpec(
        name = "filter-pipe",
        source = SourceSpec("file",
          Map("path" -> s"$dir/part.parquet", "format" -> "parquet")),
        transformations = Seq(
          TransformSpec("filter",
            Map("column" -> "p_type", "condition" -> "PROMO")),
          TransformSpec("select",
            Map("columns" -> Seq("p_partkey", "p_type", "p_brand", "p_retailprice")))),
        sink = noSink))
    },

    // reference text-to-text: map with prefix/suffix wrap
    "pipe_text_map" -> { (s, dir) =>
      run(s, PipelineSpec(
        name = "map-pipe",
        source = SourceSpec("file",
          Map("path" -> s"$dir/documents.parquet", "format" -> "parquet")),
        transformations = Seq(
          TransformSpec("map",
            Map("column" -> "text", "prefix" -> "<doc> ", "suffix" -> " </doc>")),
          TransformSpec("select", Map("columns" -> Seq("doc_id", "text")))),
        sink = noSink))
    },

    // reference columnMapping: rename + project
    "pipe_select_rename" -> { (s, dir) =>
      run(s, PipelineSpec(
        name = "rename-pipe",
        source = SourceSpec("file",
          Map("path" -> s"$dir/customer.parquet", "format" -> "parquet")),
        transformations = Seq(
          TransformSpec("map", Map("columnMapping" -> Map(
            "c_custkey" -> "customer_id", "c_name" -> "customer_name"))),
          TransformSpec("select",
            Map("columns" -> Seq("customer_id", "customer_name", "c_mktsegment")))),
        sink = noSink))
    },

    // expression-based filter+map (engine extension of the reference's
    // string-only transforms)
    "pipe_expr" -> { (s, dir) =>
      run(s, PipelineSpec(
        name = "expr-pipe",
        source = SourceSpec("file",
          Map("path" -> s"$dir/orders.parquet", "format" -> "parquet")),
        transformations = Seq(
          TransformSpec("filter",
            Map("expression" -> "o_totalprice > 150000.0 AND o_orderstatus = 'F'")),
          TransformSpec("map", Map(
            "expression" -> "round(o_totalprice / 1000.0, 0)", "as" -> "price_k")),
          TransformSpec("select",
            Map("columns" -> Seq("o_orderkey", "o_orderstatus", "price_k")))),
        sink = noSink))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "pipe_filter" ->
      """SELECT p_partkey, p_type, p_brand, p_retailprice
        |FROM part WHERE position('PROMO' IN p_type) > 0""".stripMargin,

    "pipe_text_map" ->
      "SELECT doc_id, '<doc> ' || text || ' </doc>' AS text FROM documents",

    "pipe_select_rename" ->
      """SELECT c_custkey AS customer_id, c_name AS customer_name, c_mktsegment
        |FROM customer""".stripMargin,

    "pipe_expr" ->
      """SELECT o_orderkey, o_orderstatus, round(o_totalprice / 1000.0, 0) AS price_k
        |FROM orders WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'""".stripMargin
  )
}
