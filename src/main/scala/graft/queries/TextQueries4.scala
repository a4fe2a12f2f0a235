package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-7 text additions.
  *
  * `text_readability` — Automated Readability Index (Senter & Smith
  * 1967), the classic no-dictionary readability score: 4.71·(chars/
  * words) + 0.5·(words/sentences) − 21.43. ARI is chosen over
  * Flesch-Kincaid precisely because it needs NO syllable counting —
  * every input is an exact integer (non-space chars, space-split
  * words, sentence enders), and the score is one fixed double
  * expression tree identical on both engines (mul/add/div are IEEE
  * deterministic; the no-log/pow discipline). Row-local, zero
  * shuffles.
  *
  * `dedup_normalized` — canonicalization dedup, the cheap first pass
  * every web-corpus pipeline runs before fuzzy matching (C4's exact
  * dedup is this shape): lowercase, strip sentence punctuation,
  * collapse space runs, then exact-match on the normalized key. One
  * hash shuffle on the high-cardinality key; survivor = min doc_id
  * (the dedup_exact convention).
  */
object TextQueries4 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "text_readability" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .withColumn("n_words",
          (length($"text") - length(regexp_replace($"text", " ", "")) + 1)
            .cast("long"))
        .withColumn("n_chars_ns",
          length(regexp_replace($"text", " ", "")).cast("long"))
        .withColumn("n_sent", greatest(lit(1L),
          (length($"text") - length(regexp_replace($"text", "[.!?]", "")))
            .cast("long")))
        .select($"doc_id", $"n_words", $"n_chars_ns", $"n_sent",
          (lit(4.71) * ($"n_chars_ns".cast("double") / $"n_words") +
            lit(0.5) * ($"n_words".cast("double") / $"n_sent") -
            lit(21.43)).as("ari"))
    },

    "dedup_normalized" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .withColumn("k", trim(regexp_replace(
          regexp_replace(lower($"text"), "[.,;:!?]", ""), " +", " ")))
        .groupBy($"k")
        .agg(min($"doc_id").as("keep_id"),
          count(lit(1)).as("n_members"))
        .select($"keep_id", $"n_members", length($"k").cast("long").as("key_len"))
    },

    // RAKE keyword extraction (Rose et al. 2010, round 8): candidate
    // phrases = maximal stopword-free word runs (row-local: stopwords
    // become chr(31) markers, split, trim, drop empties — no window,
    // no position bookkeeping); word stats freq(w) = #phrase
    // occurrences and deg(w) = Σ phrase length over containing
    // phrases; word score = deg/freq (ONE IEEE division); phrase
    // score = strict in-order fold of its word scores (collect
    // (pos, score), sort_array, aggregate from 0.0 — DuckDB's
    // elem-1-init list(ORDER BY) fold is bit-identical because
    // 0.0 + x == x for positive IEEE doubles, the ann_pq rule).
    // Scale shape: phrase extraction row-local at scan parallelism;
    // stats are VOCAB-bounded and broadcast back; the per-phrase-type
    // rollup is the one high-cardinality shuffle; top-20 is a partial
    // TakeOrdered.
    "text_rake" -> { (s, dir) =>
      import s.implicits._
      val stopList = graft.functions.GraftFunctions.stopwords
        .map(w => s"'$w'").mkString(", ")
      val phrases = Tables.load(s, dir, "documents")
        .select(explode(expr(
          s"""filter(transform(split(array_join(transform(split(text, ' '),
             |  gw -> CASE WHEN gw IN ($stopList) THEN chr(31) ELSE gw END),
             |  ' '), chr(31)), gp -> trim(gp)), gp -> gp != '')"""
            .stripMargin)).as("phrase"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wl = phrases.select(explode(split($"phrase", " ")).as("w"),
        size(split($"phrase", " ")).as("l"))
      val stats = wl.groupBy($"w")
        .agg(count(lit(1)).as("freq"), sum($"l").as("deg"))
        .select($"w",
          ($"deg".cast("double") / $"freq".cast("double")).as("score"))
      val ptypes = phrases.groupBy($"phrase")
        .agg(count(lit(1)).as("n_occur"))
      ptypes
        .select($"phrase", $"n_occur",
          posexplode(split($"phrase", " ")).as(Seq("pos", "w")))
        .join(broadcast(stats), "w")
        .groupBy($"phrase", $"n_occur")
        .agg(sort_array(collect_list(struct($"pos", $"score"))).as("ps"))
        .withColumn("score", expr(
          "aggregate(ps, CAST(0.0 AS DOUBLE), (a, x) -> a + x.score)"))
        .select($"phrase", $"n_occur", $"score")
        .orderBy($"score".desc, $"phrase".asc).limit(20)
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    // regexp_replace needs the 'g' flag in DuckDB (Spark replaces all
    // occurrences by default)
    "text_readability" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1
        |    AS BIGINT) AS n_words,
        |  CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT)
        |    AS n_chars_ns,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
        |      AS BIGINT)) AS n_sent
        |  FROM documents)
        |SELECT doc_id, n_words, n_chars_ns, n_sent,
        |  4.71 * (CAST(n_chars_ns AS DOUBLE) / n_words)
        |    + 0.5 * (CAST(n_words AS DOUBLE) / n_sent) - 21.43 AS ari
        |FROM t""".stripMargin,

    "dedup_normalized" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[.,;:!?]', '', 'g'),
        |    ' +', ' ', 'g')) AS k
        |  FROM documents)
        |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(length(k) AS BIGINT) AS key_len
        |FROM n GROUP BY k""".stripMargin,

    "text_rake" -> {
      val stopList = graft.functions.GraftFunctions.stopwords
        .map(w => s"'$w'").mkString(", ")
      s"""WITH ph AS (
         |  SELECT trim(gp) AS phrase FROM (
         |    SELECT unnest(string_split(array_to_string(
         |      list_transform(string_split(text, ' '),
         |        gw -> CASE WHEN gw IN ($stopList) THEN chr(31) ELSE gw END),
         |      ' '), chr(31))) AS gp
         |    FROM documents)
         |  WHERE trim(gp) <> ''),
         |wl AS (
         |  SELECT unnest(string_split(phrase, ' ')) AS w,
         |    len(string_split(phrase, ' ')) AS l
         |  FROM ph),
         |stats AS (
         |  SELECT w, CAST(sum(l) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS score
         |  FROM wl GROUP BY w),
         |pt AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occur
         |       FROM ph GROUP BY phrase),
         |pws AS (
         |  SELECT pt.phrase, pt.n_occur, gi AS pos,
         |    string_split(pt.phrase, ' ')[CAST(gi AS INT)] AS w
         |  FROM pt, unnest(range(1, len(string_split(pt.phrase, ' ')) + 1))
         |    AS t(gi)),
         |scored AS (
         |  SELECT phrase, n_occur,
         |    list_reduce(list(s.score ORDER BY pws.pos), (ga, gb) -> ga + gb)
         |      AS score
         |  FROM pws JOIN stats s ON pws.w = s.w
         |  GROUP BY phrase, n_occur)
         |SELECT phrase, n_occur, score FROM scored
         |ORDER BY score DESC, phrase ASC LIMIT 20""".stripMargin
    }
  )
}
