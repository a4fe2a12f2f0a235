package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 text additions, wave 2.
  *
  * `text_gopher` — the Gopher quality-rule audit (Rae et al. 2021,
  * Appendix A), the rule set most LLM-corpus pipelines start from.
  * This corpus has no newlines or sentence punctuation, so the
  * line-level rules (bullet/ellipsis ratios) are vacuous here; the
  * five word-level rules are implemented exactly, and every
  * threshold compare is INTEGER (cross-multiplied — `10*sym <= n`
  * instead of `sym/n <= 0.1`) so no float ratio ever forms and the
  * DuckDB oracle replays bit-for-bit:
  *
  *   r_wc     — word count in [50, 100000]
  *   r_mwl    — mean word length in [3, 10]  (3n <= chars <= 10n)
  *   r_sym    — symbol('#','…')-to-word ratio <= 0.1
  *   r_alpha  — >= 80% of words contain an alphabetic character
  *   r_stop   — >= 2 DISTINCT stopwords from the fixed list present
  *
  * Flags emit as 1/0 ints (engine-portable rendering), plus the raw
  * counts an auditor needs to tune thresholds. Row-local at scan
  * parallelism — zero shuffles; at 100 TB this is a pure map over
  * the corpus, exactly what a gate pass should be.
  */
object TextQueries5 extends graft.QueryModule {

  private val stopList =
    graft.functions.GraftFunctions.stopwords.map(w => s"'$w'").mkString(", ")
  private def markerList(l: String) =
    graft.functions.GraftFunctions.langMarkers.toMap.apply(l)
      .map(w => s"'$w'").mkString(", ")
  private def sqlCount(set: String) =
    s"len(list_filter(string_split(text, ' '), gw -> gw IN ($set)))"

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // `text_langid_eval` — the CONFUSION MATRIX for the langid
    // classifier (round 8): per (true lang, predicted lang) counts
    // plus each true lang's total and the share — the eval artifact a
    // classifier report leads with (text_langid emits predictions;
    // this closes the loop against the labels, the ann_recall
    // discipline for text). Row-local classify at scan parallelism,
    // ONE partial-agg (lang, pred) rollup; totals/share come from a
    // window over the ≤|langs|² AGGREGATED frame (downsample-then-
    // window); share is one division of exact counts.
    "text_langid_eval" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.GraftFunctions.{lang_scores, lang_predict}
      val df = Tables.load(s, dir, "documents")
      val scores = lang_scores($"text")
      val scored = scores.foldLeft(df) { case (d, (l, c)) =>
        d.withColumn(s"s_$l", c) }
        .withColumn("pred",
          lang_predict(scores.map { case (l, _) => l -> col(s"s_$l") }))
      val wl = Window.partitionBy($"lang")
      scored.groupBy($"lang", $"pred").agg(count(lit(1)).as("n"))
        .withColumn("n_lang", sum($"n").over(wl))
        .withColumn("share",
          $"n".cast("double") / $"n_lang".cast("double"))
    },

    // `dq_quality_dup` — does LOW-quality text duplicate more? (round
    // 8, the curation question the Gopher/C4 papers answer with this
    // exact 2×2): quality = the binding text_gopher rules, duplicated
    // = the doc CONTAINS an 8-word shingle occurring in more than one
    // document (dedup_containment's near-dup evidence — this corpus
    // has no EXACT normalized dups, probed, so a canonical-key
    // definition degenerates to an empty column); 2×2 observed counts
    // + chi-square, every expected/contribution term a FIXED IEEE
    // tree over exact integer products (R·C < 2^63, squares as
    // self-multiplication, never pow — the dq_drift discipline). One
    // shingle-df rollup + a semi join + one row-local rule pass; the
    // contingency assembles on a ≤4-row frame.
    //
    // Round 19 (VERDICT r18 task 2 — the 10× heavy-tail spill): two
    // changes, measured separately. (1) The postings carry
    // xxhash64(shingle) LONGS, not ~50-byte shingle STRINGS — the df>1
    // "is shared" predicate on hashes equals the string predicate up
    // to an xxhash64 collision among distinct shingles (~2⁻⁶⁴ per pair
    // — the value-band-rule adjudication class, accepted in VERDICT
    // r18); the oracle keeps exact string shingles, so parity itself
    // verifies no collision binds at gate scale. (2) The
    // persist + df-rollup + semi-join shape is gone: the shared flag
    // comes from ONE count window over the shingle-hash partition —
    // one shuffle of the postings, nothing persisted, nothing consumed
    // twice. Alternating the three candidate stage shapes at 10×
    // under control-stamped rounds (steal waves hit all arms
    // equally): window 5.5/5.0/8.5 s vs hashed-persist-semi
    // 5.9/5.6/12.6 vs recompute-semi 9.0/98/11.4 — the window form is
    // both the min AND the tightest tail (text_bigram_rarity measured
    // window == join on cost; here the join forms also pay a second
    // consumption of the postings, which is what spilled).
    "dq_quality_dup" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.GraftFunctions.word_shingles
      val docs = Tables.load(s, dir, "documents")
      // the shingle kernel is per-row compute over a single-file scan
      // — spread it first (the Parallelism.ensure cliff rule)
      val sh = graft.operators.Parallelism.ensure(docs)
        .select($"doc_id", explode(word_shingles($"text", 8)).as("__shs"))
        .select($"doc_id", xxhash64($"__shs").as("sh"))
      val wSh = Window.partitionBy($"sh")
      val dupDocs = sh.withColumn("d", count(lit(1)).over(wSh))
        .filter($"d" > 1L)
        .select($"doc_id").distinct()
      val flagged = docs
        .join(dupDocs.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left")
        .withColumn("is_dup", coalesce($"is_dup", lit(0L)))
        .withColumn("n_words", size(split($"text", " ")).cast("long"))
        .withColumn("n_chars_ns",
          length(regexp_replace($"text", " ", "")).cast("long"))
        .withColumn("is_lowq",
          // the two gopher rules that actually bind on this corpus:
          // word-count floor and mean-word-length band
          when($"n_words" >= 50L && $"n_chars_ns" >= lit(3L) * $"n_words" &&
            $"n_chars_ns" <= lit(10L) * $"n_words", 0L).otherwise(1L))
      val cells = flagged.groupBy($"is_lowq", $"is_dup")
        .agg(count(lit(1)).as("o"))
      val wa = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wr = Window.partitionBy($"is_lowq")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wc = Window.partitionBy($"is_dup")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cells
        .withColumn("g", sum($"o").over(wa))
        .withColumn("r", sum($"o").over(wr))
        .withColumn("c", sum($"o").over(wc))
        .withColumn("e", ($"r" * $"c").cast("double") / $"g".cast("double"))
        .select($"is_lowq", $"is_dup", $"o", $"r", $"c", $"e",
          (($"o".cast("double") - $"e") * ($"o".cast("double") - $"e") /
            $"e").as("chi2_contrib"))
    },

    "text_gopher" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .withColumn("n_words",
          size(split($"text", " ")).cast("long"))
        .withColumn("n_chars_ns",
          length(regexp_replace($"text", " ", "")).cast("long"))
        .withColumn("n_sym",
          (length($"text") - length(regexp_replace($"text", "[#…]", "")))
            .cast("long"))
        .withColumn("n_alpha_words",
          size(expr("filter(split(text, ' '), gw -> gw rlike '[a-zA-Z]')"))
            .cast("long"))
        .withColumn("n_stop_distinct",
          size(expr(
            s"filter(array_distinct(split(text, ' ')), gw -> gw IN ($stopList))"))
            .cast("long"))
        .select($"doc_id", $"n_words", $"n_chars_ns", $"n_sym",
          $"n_alpha_words", $"n_stop_distinct",
          when($"n_words" >= 50L && $"n_words" <= 100000L, 1).otherwise(0)
            .as("r_wc"),
          when($"n_chars_ns" >= lit(3L) * $"n_words" &&
               $"n_chars_ns" <= lit(10L) * $"n_words", 1).otherwise(0)
            .as("r_mwl"),
          when(lit(10L) * $"n_sym" <= $"n_words", 1).otherwise(0)
            .as("r_sym"),
          when(lit(10L) * $"n_alpha_words" >= lit(8L) * $"n_words", 1)
            .otherwise(0).as("r_alpha"),
          when($"n_stop_distinct" >= 2L, 1).otherwise(0).as("r_stop"))
        .withColumn("keep",
          when($"r_wc" + $"r_mwl" + $"r_sym" + $"r_alpha" + $"r_stop" === 5, 1)
            .otherwise(0))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "dq_quality_dup" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws
        |           FROM documents),
        |s AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(0, len(ws) - 7),
        |      i -> array_to_string(ws[CAST(i+1 AS INT):CAST(i+8 AS INT)],
        |        ' ')))) AS sh
        |  FROM w WHERE len(ws) >= 8),
        |shared AS (SELECT sh FROM s GROUP BY sh HAVING count(*) > 1),
        |dup AS (SELECT DISTINCT doc_id FROM s JOIN shared USING (sh)),
        |f AS (SELECT
        |    CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
        |    CASE WHEN len(string_split(text, ' ')) >= 50
        |      AND length(regexp_replace(text, ' ', '', 'g'))
        |        >= 3 * len(string_split(text, ' '))
        |      AND length(regexp_replace(text, ' ', '', 'g'))
        |        <= 10 * len(string_split(text, ' '))
        |      THEN 0 ELSE 1 END AS is_lowq
        |  FROM w LEFT JOIN dup ON w.doc_id = dup.doc_id),
        |cells AS (SELECT is_lowq, is_dup, CAST(count(*) AS BIGINT) AS o
        |  FROM f GROUP BY 1, 2),
        |m AS (SELECT is_lowq, is_dup, o,
        |    CAST(sum(o) OVER () AS BIGINT) AS g,
        |    CAST(sum(o) OVER (PARTITION BY is_lowq) AS BIGINT) AS r,
        |    CAST(sum(o) OVER (PARTITION BY is_dup) AS BIGINT) AS c
        |  FROM cells)
        |SELECT is_lowq, is_dup, o, r, c,
        |  CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE) AS e,
        |  (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE))
        |    / (CAST(r * c AS DOUBLE) / CAST(g AS DOUBLE)) AS chi2_contrib
        |FROM m""".stripMargin,

    // the scoring CTE mirrors text_langid's oracle; the rollup adds
    // the confusion counts + per-true-lang window totals
    "text_langid_eval" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  ${sqlCount(markerList("de"))} AS s_de,
         |  ${sqlCount(markerList("en"))} AS s_en,
         |  ${sqlCount(markerList("es"))} AS s_es,
         |  ${sqlCount(markerList("fr"))} AS s_fr,
         |  ${sqlCount(markerList("zh"))} AS s_zh
         |  FROM documents),
         |p AS (SELECT lang,
         |  CASE
         |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |    WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |    WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
         |    WHEN s_zh >= s_de AND s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_fr THEN 'zh'
         |    ELSE 'und' END AS pred
         |  FROM t),
         |c AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, pred, n,
         |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
         |  CAST(n AS DOUBLE) /
         |    CAST(CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS DOUBLE)
         |    AS share
         |FROM c""".stripMargin,

    // len(string_split) == Spark size(split) on space-separated text;
    // regexp_replace needs the 'g' flag in DuckDB
    "text_gopher" ->
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT)
         |    AS n_chars_ns,
         |  CAST(length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
         |    AS BIGINT) AS n_sym,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    gw -> regexp_matches(gw, '[a-zA-Z]'))) AS BIGINT)
         |    AS n_alpha_words,
         |  CAST(len(list_filter(list_distinct(string_split(text, ' ')),
         |    gw -> gw IN ($stopList))) AS BIGINT) AS n_stop_distinct
         |  FROM documents)
         |SELECT doc_id, n_words, n_chars_ns, n_sym, n_alpha_words,
         |  n_stop_distinct,
         |  CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END
         |    AS r_wc,
         |  CASE WHEN n_chars_ns >= 3*n_words AND n_chars_ns <= 10*n_words
         |    THEN 1 ELSE 0 END AS r_mwl,
         |  CASE WHEN 10*n_sym <= n_words THEN 1 ELSE 0 END AS r_sym,
         |  CASE WHEN 10*n_alpha_words >= 8*n_words THEN 1 ELSE 0 END
         |    AS r_alpha,
         |  CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END AS r_stop,
         |  CASE WHEN (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
         |          + (CASE WHEN n_chars_ns >= 3*n_words AND n_chars_ns <= 10*n_words THEN 1 ELSE 0 END)
         |          + (CASE WHEN 10*n_sym <= n_words THEN 1 ELSE 0 END)
         |          + (CASE WHEN 10*n_alpha_words >= 8*n_words THEN 1 ELSE 0 END)
         |          + (CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END) = 5
         |    THEN 1 ELSE 0 END AS keep
         |FROM t""".stripMargin
  )
}
