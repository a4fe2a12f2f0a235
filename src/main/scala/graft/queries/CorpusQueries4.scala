package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Fourth corpus wave (SURVEY.md §2.3, round 4): substring-level
  * (span) deduplication — [[graft.operators.SpanDedup]].
  */
object CorpusQueries4 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // cross-document duplicate 5-gram span removal (Lee et al. 2022
    // substring dedup, relational form): tokens covered by any 5-gram
    // occurring in >= 2 distinct documents are dropped and the text is
    // rebuilt in order — linear in corpus tokens, no doc-pair compare
    "corpus_span_dedup" -> { (s, dir) =>
      import graft.operators.SpanDedup
      SpanDedup.removeDuplicateSpans(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2)
    },

    // the Lee et al. 2022 exact-substring rule PROPER (round 13):
    // only MAXIMAL duplicated runs of >= 50 tokens are removed —
    // covered 5-grams coalesce into runs via the gaps-and-islands key
    // (q56's idiom), short incidental phrase overlap survives. The
    // 50-token threshold is the paper's standard and a real split on
    // this corpus (probed at sf0.01: 71 maximal runs, max 93, 21 runs
    // >= 50 across 21 docs). n_runs_removed/max_run are the audit
    // columns a pipeline owner reads to tune the threshold.
    "corpus_substring_dedup" -> { (s, dir) =>
      import graft.operators.SpanDedup
      SpanDedup.removeDuplicateRuns(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        n = 5, minDocs = 2, minRun = 50)
    },

    // LINE-level exact dedup (round 16 — C4/CCNet's other half next to
    // the span rules above): every distinct line keeps only its FIRST
    // (doc, position) occurrence corpus-wide; later occurrences drop
    // and the text rebuilds from surviving lines. The corpus has no
    // physical newlines, so lines are DERIVED deterministically first:
    // 12-token segments joined by \n (the corpus_chunk fixed-grid
    // idiom) — exact duplicate docs and grid-aligned shared runs make
    // a real split (probed at sf0.01: 110 of 2477 lines removed across
    // 38 docs). SpanDedup.dedupLines is the operator; its shuffle key
    // is the line STRING, exactly the oracle's grouping.
    "corpus_line_dedup" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.SpanDedup
      val lined = Tables.load(s, dir, "documents")
        .withColumn("toks", split($"text", " "))
        .select($"doc_id", array_join(transform(
            sequence(lit(0), ((size($"toks") - 1) / 12).cast("int")),
            g => array_join(slice($"toks", g * 12 + 1, lit(12)), " ")),
          "\n").as("lined"))
      SpanDedup.dedupLines(lined, "doc_id", "lined")
    },

    // pairwise corpus comparison: vocabulary Jaccard between sources —
    // distinct (source, token) table (O(vocab), partial-distinct
    // collapse), self-joined on token for intersections, sizes joined
    // back; exact integers to one double division. The corpus itself
    // is never pairwise-compared — only its vocabulary is.
    "corpus_vocab_overlap" -> { (s, dir) =>
      import s.implicits._
      val vocab = Tables.load(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("tok"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = vocab.groupBy($"source").agg(count(lit(1)).as("nv"))
      val inter = vocab.as("a")
        .join(vocab.as("b"), Seq("tok"))
        .filter($"a.source" < $"b.source")
        .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(sizes.select($"source".as("src_a"), $"nv".as("na"))), "src_a")
        .join(broadcast(sizes.select($"source".as("src_b"), $"nv".as("nb"))), "src_b")
        .select($"src_a", $"src_b", $"n_common", $"na", $"nb",
          ($"n_common".cast("double") /
            ($"na" + $"nb" - $"n_common").cast("double")).as("jaccard"))
    },

    // cleaning-funnel attribution: every document lands in its FIRST
    // failing quality stage (corpus_clean's cascade, same thresholds)
    // or 'kept' — the "why was my data dropped" report every pipeline
    // run needs. Row-local classify + one tiny partial-agg groupBy;
    // shares derive from exact integer counts in one double division.
    "corpus_funnel" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions.{stopword_count, token_count}
      val t = Tables.load(s, dir, "documents")
        .withColumn("n_tokens", token_count($"text"))
        .withColumn("stop_cnt", stopword_count($"text"))
        .withColumn("mwl",
          (length($"text") - ($"n_tokens" - 1)).cast("double") / $"n_tokens")
        .withColumn("stage",
          when($"n_tokens" < 20, "too_short")
            .when($"mwl" < 3.0 || $"mwl" > 12.0, "word_len_out")
            .when($"stop_cnt" * 100 < $"n_tokens" * 2, "low_stopword")
            .otherwise("kept"))
      val g = t.groupBy($"stage")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("stage_tokens"))
      val tot = g.agg(sum($"n_docs").as("td"))
      g.crossJoin(broadcast(tot))
        .select($"stage", $"n_docs", $"stage_tokens",
          ($"n_docs".cast("double") / $"td".cast("double")).as("share"))
    },

    // stratified sampling: exactly 20 docs per language, selected by a
    // portable multiplicative-hash priority (odd multiplier mod 2^32 is
    // injective over doc ids, so there are never ties and both engines
    // replay the draw bit-for-bit — no RNG state, the Sampling
    // discipline). The rank<=k filter gets Spark 4's map-side partial
    // WindowGroupLimit, so each input partition keeps k rows per
    // language before the exchange — no low-cardinality window cliff.
    "corpus_stratified_sample" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val pri = pmod($"doc_id" * lit(2654435761L), lit(4294967296L))
      val w = Window.partitionBy($"lang").orderBy($"priority".asc)
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", pri.as("priority"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 20)
        .select($"doc_id", $"lang", $"priority", $"rn")
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "corpus_span_dedup" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (
        |  SELECT doc_id, g.st AS st, g.ng AS ng
        |  FROM (SELECT doc_id, unnest(list_transform(
        |      range(0, greatest(len(w) - 4, 0)),
        |      i -> {'st': i,
        |            'ng': array_to_string(list_slice(w, i + 1, i + 5), ' ')}))
        |      AS g
        |    FROM ws)),
        |dup AS (
        |  SELECT ng FROM occ GROUP BY ng
        |  HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT occ.doc_id, unnest(range(st, st + 5)) AS pos
        |    FROM occ JOIN dup USING (ng))),
        |toks AS (
        |  SELECT doc_id, i AS pos, w[i + 1] AS tok
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM ws)),
        |kept AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(t.tok ORDER BY t.pos), ' ') AS clean_text
        |  FROM toks t LEFT JOIN covered c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.doc_id IS NULL
        |  GROUP BY t.doc_id)
        |SELECT ws.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(len(ws.w) AS BIGINT) AS n_total,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  CAST(len(ws.w) AS BIGINT) - coalesce(k.n_kept, 0) AS n_removed
        |FROM ws LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // the span_dedup chain + gaps-and-islands run coalescing: only
    // runs of >= 50 covered positions remove their tokens
    "corpus_substring_dedup" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (
        |  SELECT doc_id, g.st AS st, g.ng AS ng
        |  FROM (SELECT doc_id, unnest(list_transform(
        |      range(0, greatest(len(w) - 4, 0)),
        |      i -> {'st': i,
        |            'ng': array_to_string(list_slice(w, i + 1, i + 5), ' ')}))
        |      AS g
        |    FROM ws)),
        |dup AS (
        |  SELECT ng FROM occ GROUP BY ng
        |  HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT occ.doc_id, unnest(range(st, st + 5)) AS pos
        |    FROM occ JOIN dup USING (ng))),
        |runs AS (
        |  SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |      AS rk
        |  FROM covered),
        |rl AS (
        |  SELECT doc_id, rk, CAST(count(*) AS BIGINT) AS run_len
        |  FROM runs GROUP BY doc_id, rk),
        |rem AS (
        |  SELECT r.doc_id, r.pos
        |  FROM runs r JOIN rl ON rl.doc_id = r.doc_id AND rl.rk = r.rk
        |  WHERE rl.run_len >= 50),
        |toks AS (
        |  SELECT doc_id, i AS pos, w[i + 1] AS tok
        |  FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM ws)),
        |kept AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(t.tok ORDER BY t.pos), ' ') AS clean_text
        |  FROM toks t LEFT JOIN rem c
        |    ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  WHERE c.doc_id IS NULL
        |  GROUP BY t.doc_id),
        |audit AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN run_len >= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_runs_removed,
        |    CAST(max(run_len) AS BIGINT) AS max_run
        |  FROM rl GROUP BY doc_id)
        |SELECT ws.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(len(ws.w) AS BIGINT) AS n_total,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  CAST(len(ws.w) AS BIGINT) - coalesce(k.n_kept, 0) AS n_removed,
        |  coalesce(a.n_runs_removed, 0) AS n_runs_removed,
        |  coalesce(a.max_run, 0) AS max_run
        |FROM ws LEFT JOIN kept k USING (doc_id)
        |LEFT JOIN audit a USING (doc_id)""".stripMargin,

    // same derived 12-token grid; first occurrence = row_number 1 over
    // (doc_id, pos) — identical to the operator's min(struct) rule.
    // coalesce the all-removed render (array_to_string over an empty
    // FILTERed list is NULL where Spark's array_join gives '')
    "corpus_line_dedup" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |seg AS (
        |  SELECT doc_id, CAST(g AS INT) AS pos,
        |    array_to_string(list_slice(w, CAST(g * 12 + 1 AS INT),
        |      CAST(g * 12 + 12 AS INT)), ' ') AS line
        |  FROM ws, unnest(range(0, (len(w) - 1) // 12 + 1)) AS t(g)),
        |r AS (
        |  SELECT doc_id, pos, line,
        |    CASE WHEN row_number()
        |        OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
        |      THEN 1 ELSE 0 END AS keep
        |  FROM seg)
        |SELECT doc_id,
        |  coalesce(array_to_string(list(line ORDER BY pos)
        |    FILTER (keep = 1), chr(10)), '') AS clean_text,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(keep) AS BIGINT) AS n_kept,
        |  CAST(count(*) - sum(keep) AS BIGINT) AS n_removed
        |FROM r GROUP BY doc_id""".stripMargin,

    "corpus_vocab_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
        |  FROM v GROUP BY source),
        |i AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY src_a, src_b)
        |SELECT i.src_a, i.src_b, i.n_common, sa.nv AS na, sb.nv AS nb,
        |  CAST(i.n_common AS DOUBLE)
        |    / CAST(sa.nv + sb.nv - i.n_common AS DOUBLE) AS jaccard
        |FROM i JOIN sz sa ON i.src_a = sa.source
        |  JOIN sz sb ON i.src_b = sb.source""".stripMargin,

    "corpus_funnel" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
        |    len(list_filter(string_split(text, ' '),
        |      gw -> gw IN ('the','a','an','of','and','or','to','in','is','it')))
        |      AS stop_cnt,
        |    length(text) AS n_chars
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, n_tokens,
        |    CASE
        |      WHEN n_tokens < 20 THEN 'too_short'
        |      WHEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens < 3.0
        |        OR CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens > 12.0
        |        THEN 'word_len_out'
        |      WHEN stop_cnt * 100 < n_tokens * 2 THEN 'low_stopword'
        |      ELSE 'kept' END AS stage
        |  FROM t),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS td FROM documents)
        |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS stage_tokens,
        |  CAST(count(*) AS DOUBLE) / CAST(td AS DOUBLE) AS share
        |FROM st CROSS JOIN tot GROUP BY stage, td""".stripMargin,

    "corpus_stratified_sample" ->
      """WITH p AS (
        |  SELECT doc_id, lang,
        |    (doc_id * 2654435761) % 4294967296 AS priority
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, priority,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY priority ASC)
        |      AS INT) AS rn
        |  FROM p)
        |SELECT doc_id, lang, priority, rn FROM r WHERE rn <= 20""".stripMargin
  )
}
