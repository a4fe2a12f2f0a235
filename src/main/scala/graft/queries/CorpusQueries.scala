package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Composite corpus-curation queries (SURVEY.md §2.5): the end-to-end
  * shapes an LLM data pipeline actually runs — quality-gate filtering
  * and per-source corpus statistics — built from the same portable
  * primitives as the text_* queries.
  */
object CorpusQueries extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // keep documents that pass the quality gate: enough tokens, sane
    // mean word length, some stopword signal
    "corpus_clean" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("n_tokens", token_count(col("text")))
        .withColumn("stop_cnt", stopword_count(col("text")))
        .withColumn("mean_word_len",
          (length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
        .filter(col("n_tokens") >= 20 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 12.0 &&
          col("stop_cnt") * 100 >= col("n_tokens") * 2) // stop ratio >= 2%
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_tokens"), col("stop_cnt"))
    },

    // deterministic train/val/test split (hash-bucket pattern; the
    // bucket expression is doc_id % 10 so the oracle replays it
    // exactly) with per-split per-language doc/token accounting
    "corpus_split" -> { (s, dir) =>
      val bucket = pmod(col("doc_id"), lit(10))
      Tables.load(s, dir, "documents")
        .withColumn("split",
          when(bucket <= 7, lit("train"))
            .when(bucket === 8, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(token_count(col("text"))).as("n_tokens"))
    },

    // weighted top-k sample (integer min-of-w-draws priorities — no
    // floats, no RNG state): en docs carry 3 draws, others 1, so en
    // wins slots at 3x the rate; fully deterministic and replayed
    // bit-for-bit by the oracle
    "corpus_weighted_sample" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .withColumn("wt", when(col("lang") === "en", 3).otherwise(1))
      graft.operators.Sampling.weightedTopK(docs, "doc_id", "wt", 100)
        .select(col("doc_id"), col("lang"))
    },

    // declarative one-pass quality audit: every ingest contract check
    // (nulls, emptiness, id uniqueness, lang domain, char bounds) as a
    // single aggregation over the corpus
    "corpus_audit" -> { (s, dir) =>
      import graft.operators.Quality._
      audit(Tables.load(s, dir, "documents"), Seq(
        NotNull("text"), NonEmpty("text"), Unique("doc_id"),
        InSet("lang", Seq("en", "de", "es", "fr", "zh")),
        Bounds("n_chars", 1, 1000000)))
    },

    // the CAPSTONE composite (round 8): one query producing the
    // training-corpus MANIFEST — quality gate (corpus_clean's cascade)
    // → exact dedup among survivors (md5 groups, keep min id) → exact
    // 10-per-lang stratified sample by the portable multiplicative-hash
    // priority (corpus_stratified_sample's rule) → per-lang funnel
    // accounting. Every stage is a stage other queries gate separately;
    // the composite proves they CHAIN (the mm_search discipline for the
    // text stack). All counts integer; rank<=10 rides the map-side
    // partial WindowGroupLimit; the md5 rollup is the one
    // high-cardinality shuffle.
    "corpus_prepare" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val gated = Tables.load(s, dir, "documents")
        .withColumn("n_tokens", token_count(col("text")))
        .withColumn("stop_cnt", stopword_count(col("text")))
        .withColumn("mean_word_len",
          (length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
        .filter(col("n_tokens") >= 20 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 12.0 &&
          col("stop_cnt") * 100 >= col("n_tokens") * 2)
        .select($"doc_id", $"lang", $"text", $"n_tokens")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // constant-width (hash, id) rows through the dedup shuffle — the
      // full text never leaves the gated frame
      val keep = gated.groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("doc_id"))
      val unique = gated
        .join(keep.select($"doc_id"), Seq("doc_id"), "left_semi")
        .select($"doc_id", $"lang", $"n_tokens")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pri = pmod($"doc_id" * lit(2654435761L), lit(4294967296L))
      val sampled = unique
        .select($"doc_id", $"lang", $"n_tokens", pri.as("priority"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"lang").orderBy($"priority".asc)))
        .filter($"rn" <= 10)
      gated.groupBy($"lang").agg(count(lit(1)).as("n_gated"))
        .join(unique.groupBy($"lang").agg(count(lit(1)).as("n_unique")),
          Seq("lang"))
        .join(sampled.groupBy($"lang").agg(count(lit(1)).as("n_sampled"),
          sum($"n_tokens").as("sample_tokens")), Seq("lang"))
    },

    "corpus_stats" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("n_tokens", token_count(col("text")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_chars")).as("total_chars"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "corpus_prepare" ->
      """WITH gated AS (
        |  SELECT doc_id, lang, text, n_tokens FROM (
        |    SELECT doc_id, lang, text,
        |      (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
        |      len(list_filter(string_split(text, ' '),
        |        gw -> gw IN ('the','a','an','of','and','or','to','in','is','it')))
        |        AS stop_cnt
        |    FROM documents)
        |  WHERE n_tokens >= 20
        |    AND CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens >= 3.0
        |    AND CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0
        |    AND stop_cnt * 100 >= n_tokens * 2),
        |uniq AS (
        |  SELECT doc_id, lang, n_tokens FROM gated
        |  WHERE doc_id IN (
        |    SELECT min(doc_id) FROM gated GROUP BY md5(text))),
        |samp AS (
        |  SELECT lang, n_tokens FROM (
        |    SELECT lang, n_tokens, row_number() OVER (
        |      PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 4294967296 ASC) AS rn
        |    FROM uniq) WHERE rn <= 10)
        |SELECT g.lang,
        |  CAST(g.n_gated AS BIGINT) AS n_gated,
        |  CAST(u.n_unique AS BIGINT) AS n_unique,
        |  CAST(sp.n_sampled AS BIGINT) AS n_sampled,
        |  CAST(sp.sample_tokens AS BIGINT) AS sample_tokens
        |FROM (SELECT lang, count(*) AS n_gated FROM gated GROUP BY lang) g
        |JOIN (SELECT lang, count(*) AS n_unique FROM uniq GROUP BY lang) u
        |  ON g.lang = u.lang
        |JOIN (SELECT lang, count(*) AS n_sampled, sum(n_tokens) AS sample_tokens
        |      FROM samp GROUP BY lang) sp
        |  ON g.lang = sp.lang""".stripMargin,

    "corpus_clean" ->
      """WITH t AS (SELECT doc_id, lang, source, text,
        |  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
        |  len(list_filter(string_split(text, ' '),
        |    gw -> gw IN ('the','a','an','of','and','or','to','in','is','it'))) AS stop_cnt
        |  FROM documents)
        |SELECT doc_id, lang, source, n_tokens, stop_cnt
        |FROM t
        |WHERE n_tokens >= 20
        |  AND CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens >= 3.0
        |  AND CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0
        |  AND stop_cnt * 100 >= n_tokens * 2""".stripMargin,

    "corpus_weighted_sample" ->
      """WITH w AS (SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN 3 ELSE 1 END AS wt FROM documents),
        |p AS (SELECT doc_id, lang,
        |  list_min(list_transform(range(0, CAST(wt AS BIGINT)),
        |    j -> ((doc_id + 43) * 2654435761 + j * 1013904223) % 2147483647))
        |    AS prio FROM w)
        |SELECT doc_id, lang FROM p ORDER BY prio, doc_id LIMIT 100""".stripMargin,

    "corpus_audit" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS null_text,
        |  CAST(count(CASE WHEN length(text) = 0 THEN 1 END) AS BIGINT) AS empty_text,
        |  CAST(count(doc_id) - count(DISTINCT doc_id) AS BIGINT) AS dup_doc_id,
        |  CAST(count(CASE WHEN lang IS NULL
        |    OR lang NOT IN ('en','de','es','fr','zh') THEN 1 END) AS BIGINT)
        |    AS domain_lang,
        |  CAST(count(CASE WHEN n_chars IS NULL OR n_chars < 1
        |    OR n_chars > 1000000 THEN 1 END) AS BIGINT) AS bounds_n_chars
        |FROM documents""".stripMargin,

    "corpus_split" ->
      """WITH t AS (SELECT lang,
        |  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
        |  CASE WHEN doc_id % 10 <= 7 THEN 'train'
        |       WHEN doc_id % 10 = 8 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM t GROUP BY split, lang""".stripMargin,

    "corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS total_tokens,
        |  min(length(text) - length(replace(text, ' ', '')) + 1) AS min_tokens,
        |  max(length(text) - length(replace(text, ' ', '')) + 1) AS max_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin
  )
}
