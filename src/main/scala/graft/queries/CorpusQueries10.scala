package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 session-3 corpus addition (+ the round-17 semantic
  * decontamination screen).
  *
  * `corpus_contamination_sem` — SEMANTIC eval-set decontamination
  * (round 17, VERDICT r16 task 3): corpus_contamination's exact
  * 5-gram screen catches verbatim leakage; a PARAPHRASED benchmark
  * question shares no 5-gram but sits next to the original in
  * embedding space. Eval set = every 97th vector (the
  * corpus_contamination split convention), centroids = the
  * deterministic first-⌈√n⌉ vectors (the ann_knn_graph convention);
  * each side assigns to its argmax-cosine cell (ties to the lowest
  * cid — the dedup_semantic discipline) and a train vector counts an
  * eval hit iff SAME cell and strict-fold cosine ≥ 0.25 (the
  * corpus-probed operating point: 13 of 494 sf0.01 train vectors
  * flagged, max 2 hits — 0.4 flags 1, 0.2 flags 26). Output is TOTAL
  * (every train vector, n_hits = 0 when clean — the screen totality
  * contract). Scale: operators.Contamination.screenSemantic — the
  * tiny eval side broadcasts, the corpus never shuffles, candidates
  * are same-cell only (n·|bench|/k in expectation — the
  * dedup_embedding_cells blocking; cross-cell paraphrase pairs are
  * the documented recall trade, nprobe on the bench side buys them
  * back). ContaminationSpec plants a paraphrase pair and proves the
  * screen flags it.
  *
  * `corpus_diversity` — Simpson concentration / effective-category
  * audit over the corpus' source and language axes: HHI = Σ pᵢ² and
  * the effective category count 1/HHI ("this corpus behaves like N
  * equally-sized sources") — the mixture-health number
  * corpus_mixture's raw shares don't summarize, and the log-free
  * diversity index (Shannon needs libm; Simpson is exact rational —
  * the no-pow/log discipline). Per axis: counts are exact integers,
  * Σnᵢ² folds in DECIMAL(38,0) (== DuckDB HUGEINT; category counts
  * square past 2^63 at corpus scale), and hhi/effective are ONE
  * fixed double tree each. Scale: two partial-agg groupBys to
  * category-bounded frames (sources, langs), a two-row union —
  * the corpus is scanned once per axis, nothing else.
  */
object CorpusQueries10 extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "corpus_contamination_sem" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val k = math.ceil(math.sqrt(
        Tables.rowCount(s, dir, "embeddings").toDouble)).toLong
      val cen = emb.filter($"vec_id" < k)
        .select($"vec_id".cast("long").as("cid"), $"embedding".as("cv"))
      val bench = emb.filter($"vec_id" % 97 === 0)
      val train = emb.filter($"vec_id" % 97 =!= 0)
      graft.operators.Contamination.screenSemantic(
        train, bench, "vec_id", "embedding", cen, tau = 0.25)
    },

    // `corpus_contamination_report` (round 18) — the REVERSE direction
    // of corpus_contamination: per BENCHMARK doc, how burned is it?
    // (n_train_docs sharing >= 1 distinct 5-gram with it, and how many
    // of its own distinct 5-grams appear anywhere in training). The
    // eval owner reads this to decide which benchmark items are dead —
    // the forward screen tells you which TRAIN docs to drop, this
    // tells you which EVAL items to distrust. Output is TOTAL (every
    // bench doc, zeros when clean — the screen totality contract;
    // sub-window docs come back n_grams = 0). Scale: the bench gram
    // side (tiny) BROADCASTS with its doc ids; training explodes to
    // grams and streams through the one equi-join — the corpus never
    // shuffles; the two distinct counts aggregate only the HIT rows
    // (overlap-bounded, a vanishing fraction of the corpus).
    "corpus_contamination_report" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.Contamination
      val docs = Tables.load(s, dir, "documents")
      val bench = docs.filter($"doc_id" % 97 === 0)
      val train = docs.filter($"doc_id" % 97 =!= 0)
      val bGrams = bench.select($"doc_id".as("bench_id"),
        explode(Contamination.ngrams($"text", 5)).as("g"))
      val tGrams = train.select($"doc_id".as("train_id"),
        explode(Contamination.ngrams($"text", 5)).as("g"))
      val hits = tGrams.join(broadcast(bGrams), "g")
        .groupBy($"bench_id")
        .agg(countDistinct($"train_id").as("nt"),
          countDistinct($"g").as("ng"))
      bench.select($"doc_id".as("bench_id"),
          size(Contamination.ngrams($"text", 5)).cast("long").as("n_grams"))
        .join(hits, Seq("bench_id"), "left")
        .select($"bench_id", $"n_grams",
          coalesce($"nt", lit(0L)).as("n_train_docs"),
          coalesce($"ng", lit(0L)).as("n_grams_hit"))
    },

    "corpus_diversity" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").persist()
      def axis(colName: String): DataFrame =
        docs.groupBy(col(colName).as("cat"))
          .agg(count(lit(1)).as("ni"))
          .agg(lit(colName).as("axis"),
            count(lit(1)).as("n_cats"),
            sum($"ni").as("n_docs"),
            sum($"ni".cast("decimal(38,0)") * $"ni".cast("decimal(38,0)"))
              .as("s2"))
      axis("source").unionByName(axis("lang"))
        .withColumn("nd", $"n_docs".cast("double"))
        .withColumn("s2d", $"s2".cast("double"))
        .select($"axis", $"n_cats", $"n_docs",
          ($"s2d" / ($"nd" * $"nd")).as("hhi"),
          (($"nd" * $"nd") / $"s2d").as("effective"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    // same gram derivation as corpus_contamination's oracle; per-bench
    // rollup over the hit join, LEFT-joined so clean bench docs keep
    // their zero row
    "corpus_contamination_report" ->
      """WITH grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(0, greatest(len(string_split(text, ' ')) - 4, 0)),
        |      i -> array_to_string(
        |        list_slice(string_split(text, ' '), i + 1, i + 5), ' ')))
        |      AS gs
        |  FROM documents),
        |bg AS (SELECT doc_id AS bench_id, unnest(gs) AS g
        |  FROM grams WHERE doc_id % 97 = 0),
        |tg AS (SELECT doc_id AS train_id, unnest(gs) AS g
        |  FROM grams WHERE doc_id % 97 <> 0),
        |h AS (SELECT b.bench_id,
        |    CAST(count(DISTINCT t.train_id) AS BIGINT) AS nt,
        |    CAST(count(DISTINCT b.g) AS BIGINT) AS ng
        |  FROM bg b JOIN tg t ON t.g = b.g
        |  GROUP BY b.bench_id)
        |SELECT g2.doc_id AS bench_id,
        |  CAST(len(g2.gs) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.nt, 0) AS BIGINT) AS n_train_docs,
        |  CAST(coalesce(h.ng, 0) AS BIGINT) AS n_grams_hit
        |FROM grams g2 LEFT JOIN h ON h.bench_id = g2.doc_id
        |WHERE g2.doc_id % 97 = 0""".stripMargin,

    // the fold rule replayed: argmax-cell assignment (cos DESC, cid
    // ASC — the dedup_incremental_sem oracle pattern), same-cell LEFT
    // join (a train vector with no eval cell-mate stays a row with
    // n_hits = 0), strict-fold cosine >= 0.25
    "corpus_contamination_sem" ->
      s"""WITH cen AS MATERIALIZED (
         |  SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv
         |  FROM embeddings
         |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
         |                  FROM embeddings)),
         |asg AS MATERIALIZED (SELECT vec_id, cell, embedding FROM (
         |    SELECT e.vec_id, c.cid AS cell, e.embedding,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${SimilarityQueries6.cos("e.embedding", "c.cv")}
         |          DESC, c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN cen c)
         |  WHERE rn = 1),
         |tr AS (SELECT * FROM asg WHERE vec_id % 97 <> 0),
         |ev AS (SELECT * FROM asg WHERE vec_id % 97 = 0)
         |SELECT t.vec_id,
         |  CAST(count(CASE WHEN e.vec_id IS NOT NULL
         |    AND ${SimilarityQueries6.cos("t.embedding", "e.embedding")}
         |      >= CAST(0.25 AS DOUBLE) THEN 1 END) AS BIGINT) AS n_hits
         |FROM tr t LEFT JOIN ev e ON e.cell = t.cell
         |GROUP BY t.vec_id""".stripMargin,

    "corpus_diversity" ->
      """WITH src AS (SELECT source AS cat, CAST(count(*) AS BIGINT) AS ni
        |  FROM documents GROUP BY 1),
        |lng AS (SELECT lang AS cat, CAST(count(*) AS BIGINT) AS ni
        |  FROM documents GROUP BY 1),
        |ax AS (
        |  SELECT 'source' AS axis, CAST(count(*) AS BIGINT) AS n_cats,
        |    CAST(sum(ni) AS BIGINT) AS n_docs,
        |    sum(CAST(ni AS HUGEINT) * CAST(ni AS HUGEINT)) AS s2
        |  FROM src
        |  UNION ALL
        |  SELECT 'lang' AS axis, CAST(count(*) AS BIGINT) AS n_cats,
        |    CAST(sum(ni) AS BIGINT) AS n_docs,
        |    sum(CAST(ni AS HUGEINT) * CAST(ni AS HUGEINT)) AS s2
        |  FROM lng)
        |SELECT axis, n_cats, n_docs,
        |  CAST(s2 AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS hhi,
        |  (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
        |    / CAST(s2 AS DOUBLE) AS effective
        |FROM ax""".stripMargin
  )
}
