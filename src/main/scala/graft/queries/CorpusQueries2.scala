package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Second corpus wave (SURVEY.md §2.5): benchmark decontamination,
  * GPT-style sequence packing, and n-gram frequency tables — the three
  * remaining pretraining-pipeline staples. All-integer arithmetic so
  * the DuckDB oracle replays every assignment bit-for-bit.
  */
object CorpusQueries2 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // benchmark decontamination: flag training docs sharing 5-token
    // shingles with the held-out set (doc_id % 97 == 0 stands in for an
    // eval benchmark). Benchmark n-grams dedup + broadcast — the
    // training corpus never shuffles. Output: per-doc hit evidence for
    // docs with any overlap.
    "corpus_contamination" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val bench = docs.filter($"doc_id" % 97 === 0)
      val train = docs.filter($"doc_id" % 97 =!= 0)
      graft.operators.Contamination
        .screen(train, bench, "doc_id", "text", n = 5)
        .filter($"n_hit" > 0)
        .select($"doc_id", $"n_hit", $"n_grams")
    },

    // sequence packing: concatenate the corpus in doc_id order, split
    // into 2048-token context windows; each doc's global token offset
    // and chunk span from a two-phase distributed prefix sum (no
    // single-task global window — see operators.Packing)
    "corpus_pack" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions._
      val d = Tables.load(s, dir, "documents")
        .select($"doc_id", token_count($"text").cast("long").as("n_tokens"))
      graft.operators.Packing.packChunks(d, "n_tokens", "doc_id", 2048L)
        .select($"doc_id", $"start_tok", $"chunk_first", $"chunk_last",
          $"n_chunks")
    },

    // corpus bigram frequency: top-20 token bigrams with deterministic
    // tie-break — the LM-diagnostics shape. Round 20 batch 3: counts
    // come from the pinned bigram_counts artifact
    // (CorpusQueries9.bigramCounts — the identical space-split
    // adjacent-pair definition; the (w1,w2) → "w1 w2" render is
    // injective since tokens carry no spaces, so per-string counts ==
    // per-pair counts and the corpus-wide count shuffle runs once per
    // session instead of per pass). TakeOrdered keeps top-k distributed.
    "corpus_bigrams" -> { (s, dir) =>
      import s.implicits._
      val top = CorpusQueries9.bigramCounts(s, dir)
        .select(concat_ws(" ", $"w1", $"w2").as("bigram"), $"c".as("n"))
        .orderBy($"n".desc, $"bigram".asc).limit(20)
      top.withColumn("rk",
        row_number().over(Window.orderBy($"n".desc, $"bigram".asc)))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "corpus_contamination" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(string_split(text, ' ')) - 4, 0)),
        |      i -> array_to_string(
        |        list_slice(string_split(text, ' '), i + 1, i + 5), ' ')))
        |      AS gs
        |  FROM documents),
        |bench AS (
        |  SELECT DISTINCT unnest(gs) AS bg FROM grams WHERE doc_id % 97 = 0),
        |train AS (
        |  SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 97 <> 0)
        |SELECT doc_id, CAST(count(b.bg) AS BIGINT) AS n_hit,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM train LEFT JOIN bench b ON train.g = b.bg
        |GROUP BY doc_id
        |HAVING count(b.bg) > 0""".stripMargin,

    "corpus_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_tok
        |  FROM d)
        |SELECT doc_id, start_tok,
        |  CAST(start_tok // 2048 AS BIGINT) AS chunk_first,
        |  CAST(CASE WHEN n_tokens = 0 THEN start_tok // 2048
        |    ELSE (start_tok + n_tokens - 1) // 2048 END AS BIGINT)
        |    AS chunk_last,
        |  CAST(CASE WHEN n_tokens = 0 THEN start_tok // 2048
        |    ELSE (start_tok + n_tokens - 1) // 2048 END
        |    - start_tok // 2048 + 1 AS BIGINT) AS n_chunks
        |FROM p""".stripMargin,

    "corpus_bigrams" ->
      """WITH b AS (
        |  SELECT unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(
        |      list_slice(string_split(text, ' '), i + 1, i + 2), ' ')))
        |    AS bigram
        |  FROM documents),
        |cnt AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY bigram)
        |SELECT bigram, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, bigram ASC) AS INT) AS rk
        |FROM cnt ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin
  )
}
