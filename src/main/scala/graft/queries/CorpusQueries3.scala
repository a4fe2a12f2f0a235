package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions.token_count

/** Third corpus wave (SURVEY.md §2.5): dataset-mixture resampling,
  * per-document keyword extraction, and sequence-length bucketing —
  * the remaining curation steps between cleaning and packing.
  * All-integer selection logic (no RNG, no floats) so the DuckDB
  * oracle replays every decision bit-for-bit.
  */
object CorpusQueries3 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // mixture resampling: rebalance the corpus toward target source
    // ratios by deterministic per-language downsampling (en keeps
    // 1/4, de 1/2, the rest all) — the "data mixture" step of a
    // pretraining recipe. Keep-decisions hash the doc id through an
    // affine map so adjacent ids decorrelate; purely row-local until
    // the tiny per-language rollup.
    "corpus_mixture" -> { (s, dir) =>
      import s.implicits._
      val h = $"doc_id" * 31 + 7
      Tables.load(s, dir, "documents")
        .filter(
          when($"lang" === "en", pmod(h, lit(4)) === 0)
            .when($"lang" === "de", pmod(h, lit(2)) === 0)
            .otherwise(lit(true)))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(token_count($"text")).as("n_tokens"))
    },

    // per-document keyword extraction: top-3 terms ranked by term
    // frequency with document-frequency tie-breaking (rarer wins) —
    // TF-IDF's ranking with exact integer keys instead of a float
    // score, so the order is engine-independent. The df join shuffles
    // on term (both sides large at corpus scale); the per-doc top-k
    // window prunes map-side via Spark 4's partial WindowGroupLimit.
    "corpus_tfidf" -> { (s, dir) =>
      import s.implicits._
      val terms = Tables.load(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      // tf feeds BOTH the df rollup and the join side; a persist was
      // MEASURED SLOWER (0.68 -> 1.31 s at sf0.1, round 20): the
      // duplicated chain is fully pipelined codegen while the persist
      // materializes 5M cache rows — keep the two-chain form
      val tf = terms.groupBy($"doc_id", $"term")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"tf".desc, $"df".asc, $"term".asc)
      tf.join(df, "term")
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 3)
        .select($"doc_id", $"term", $"tf", $"df", $"rk")
    },

    // sequence-length bucketing: power-of-two token-length buckets
    // (the batch-scheduling histogram for length-grouped training).
    // floor(log2)+1 computed exactly as length(bin(n)) — no floating
    // log whose libm rounding could differ across engines.
    "corpus_lenbucket" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(token_count($"text").cast("long").as("n_tokens"))
        .withColumn("bucket", length(bin($"n_tokens")))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_tokens"),
          min($"n_tokens").as("min_tokens"),
          max($"n_tokens").as("max_tokens"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "corpus_mixture" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
        |    AS BIGINT) AS n_tokens
        |FROM documents
        |WHERE CASE WHEN lang = 'en' THEN (doc_id * 31 + 7) % 4 = 0
        |           WHEN lang = 'de' THEN (doc_id * 31 + 7) % 2 = 0
        |           ELSE TRUE END
        |GROUP BY lang""".stripMargin,

    "corpus_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tf GROUP BY doc_id, term),
        |dfc AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM tfc GROUP BY term),
        |r AS (
        |  SELECT doc_id, term, tf, df,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, df ASC, term ASC) AS INT) AS rk
        |  FROM tfc JOIN dfc USING (term))
        |SELECT doc_id, term, tf, df, rk FROM r WHERE rk <= 3""".stripMargin,

    "corpus_lenbucket" ->
      """WITH d AS (
        |  SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
        |    AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT CAST(length(bin(n_tokens)) AS INT) AS bucket,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM d GROUP BY bucket""".stripMargin
  )
}
