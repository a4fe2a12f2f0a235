package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 session-3 text additions.
  *
  * `text_heaps` — Heaps-law vocabulary growth audit: distinct-token
  * vocabulary size at power-of-2 document prefixes (doc_id order),
  * the curve that says whether a corpus is still discovering new
  * vocabulary or re-treading itself (flattening ratio → near-dup /
  * template saturation; the corpus-level twin of text_zipf_audit's
  * within-rank view). Token definition is the shared `split(text, ' ')`
  * (the corpus_vocab_overlap idiom — identical on both engines).
  *
  * Scale shape: the ONLY pass over the corpus is one explode +
  * (token → min(doc_id)) groupBy with map-side partial mins; every
  * prefix statistic then derives from that vocabulary-bounded frame
  * and the row-local per-doc token counts — a prefix cutoff does NOT
  * re-scan the corpus (the naive per-cutoff `count(DISTINCT)` would
  * be one full shuffle per cutoff, ~40 at corpus scale). Cutoffs are
  * CORPUS-DERIVED (2^k below n plus n itself — the round-9
  * corpus-derived-constants rule), joined by broadcast inequality to
  * the two small frames. The growth ratio vocab_k / vocab_{k-1} is
  * one IEEE division on a ≤40-row frame.
  */
object TextQueries8 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "text_heaps" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("toks"))
        .select($"doc_id", size($"toks").cast("long").as("ntok"), $"toks")
      // corpus prefix = doc_id < c; full-corpus endpoint c = max+1
      val mx = docs.agg((max($"doc_id") + 1L).as("mx"))
      val cuts = mx
        .select(explode(sequence(lit(1), lit(40))).as("k"), $"mx")
        .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))").as("c"),
          $"mx")
        .filter($"c" < $"mx").select($"c")
        .union(mx.select($"mx".as("c")))
        .distinct()
      // one corpus pass: token -> first doc containing it
      val firstSeen = docs
        .select($"doc_id", explode($"toks").as("tok"))
        .groupBy($"tok").agg(min($"doc_id").as("first_id"))
      val vocabAt = firstSeen.join(broadcast(cuts), $"first_id" < $"c")
        .groupBy($"c").agg(count(lit(1)).as("vocab"))
      val sizeAt = docs.select($"doc_id", $"ntok")
        .join(broadcast(cuts), $"doc_id" < $"c")
        .groupBy($"c")
        .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
      val joined = sizeAt.join(vocabAt, "c")
      val w = Window.orderBy($"c") // ≤40 rows at any corpus size
      joined
        .withColumn("prev_vocab", lag($"vocab", 1).over(w))
        .select($"c".as("cutoff"), $"n_docs", $"n_tokens", $"vocab",
          when($"prev_vocab".isNotNull,
            $"vocab".cast("double") / $"prev_vocab".cast("double"))
            .otherwise(lit(null)).as("vocab_ratio"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "text_heaps" ->
      """WITH docs AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |mx AS (SELECT max(doc_id) + 1 AS mx FROM documents),
        |cuts AS (SELECT DISTINCT c FROM (
        |    SELECT CAST(1 AS BIGINT) << CAST(k AS INT) AS c
        |    FROM (SELECT unnest(range(1, 41)) AS k)
        |    WHERE (CAST(1 AS BIGINT) << CAST(k AS INT))
        |      < (SELECT mx FROM mx)
        |    UNION ALL SELECT mx FROM mx)),
        |first_seen AS (SELECT tok, min(doc_id) AS first_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY tok),
        |vocab_at AS (SELECT c, CAST(count(*) AS BIGINT) AS vocab
        |  FROM first_seen JOIN cuts ON first_id < c GROUP BY c),
        |size_at AS (SELECT c, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens
        |  FROM docs JOIN cuts ON doc_id < c GROUP BY c),
        |j AS (SELECT size_at.c, n_docs, n_tokens, vocab,
        |    lag(vocab) OVER (ORDER BY size_at.c) AS prev_vocab
        |  FROM size_at JOIN vocab_at ON size_at.c = vocab_at.c)
        |SELECT c AS cutoff, n_docs, n_tokens, vocab,
        |  CASE WHEN prev_vocab IS NOT NULL
        |    THEN CAST(vocab AS DOUBLE) / CAST(prev_vocab AS DOUBLE)
        |    ELSE NULL END AS vocab_ratio
        |FROM j""".stripMargin
  )
}
