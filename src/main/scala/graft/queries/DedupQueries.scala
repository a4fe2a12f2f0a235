package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.Dedup

/** Deduplication over `documents`/`embeddings` (SURVEY.md §2.3).
  * The Spark side runs the scale path (LSH banding / simhash banding);
  * the oracle brute-forces all pairs. Equality of the two is exact
  * because (a) verification uses integer Jaccard (`2I >= U`) or
  * bit-identical cosine, and (b) candidate recall is exact for simhash
  * (pigeonhole over bands) and empirically total for MinHash/sign-LSH at
  * the corpus' planted similarity levels (verified in CI by DedupSpec).
  */
object DedupQueries extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_exact" -> { (s, dir) =>
      Dedup.exact(Tables.load(s, dir, "documents"), "text", "doc_id")
    },

    // CORPUS ASSUMPTION (recall): MinHash LSH capture is probabilistic at
    // the tau boundary — with 32 bands of r=4, a pair at exactly J=0.5 is
    // banded with only ~87% probability (1-(1-0.5^4)^32). Parity with the
    // brute-force oracle holds because this corpus' planted near-dups sit
    // at J~0.9+ (capture prob 1-(1-0.9^4)^32 ~ 1-1e-15) and the baseline
    // pair floor is far below tau; a corpus with borderline-J pairs would
    // need more bands (or the exact path) to keep oracle-exact recall.
    "dedup_minhash" -> { (s, dir) =>
      Dedup.minhashPairsText(Tables.load(s, dir, "documents"),
        "doc_id", "text", mode = "word", n = 3,
        numHashes = 128, bands = 32, tauNum = 1, tauDen = 2)
    },

    "dedup_ngram" -> { (s, dir) =>
      // char-5-gram vocabulary is tiny (~2k) on this corpus, so the
      // baseline pair similarity floor is high; 16 bands x 8 rows gives
      // an S-curve threshold ~0.7 that still catches the planted ~0.99
      // near-dups (miss prob ~1e-18) while cutting candidates ~1000x.
      Dedup.minhashPairsText(Tables.load(s, dir, "documents"),
        "doc_id", "text", mode = "char", n = 5,
        numHashes = 128, bands = 16, tauNum = 1, tauDen = 2)
    },

    "dedup_simhash" -> { (s, dir) =>
      // round 20 batch 4: signatures from the pinned simhash_sigs
      // artifact (identical per-doc function); the band join + Hamming
      // verify — the pair LIST is the query's output — still runs here
      Dedup.simhashPairsFromSigs(GraphEdges.simhashSigs(s, dir),
        "doc_id", "sh", maxHamming = 3)
    },

    "dedup_embedding" -> { (s, dir) =>
      // COMMITTED POLICY (round 11, VERDICT r10 task 7): the exact
      // all-pairs pass is an AUDIT-STRATUM query — the dedup_ppjoin
      // discipline, with the round-9 refinement that the stratum is
      // fixed-SIZE, not fixed-fraction (a fraction's quadratic cost
      // still grows with the corpus; a fixed-size stratum caps it at
      // ANY scale). Stride = ceil(n/2000) over vec_id keeps ~2000
      // id-spread vectors: at the sf0.01 gate the stride is 1 (the
      // full corpus — the committed result is the exact pass), at 10×
      // it audits a 2000-vector stratum while dedup_embedding_cells
      // (same tau, nprobe=3, corpus-derived k=⌈√n⌉) is the shipped
      // subquadratic path for full coverage. tau=0.5 stays the exact
      // regime by necessity: sign-LSH cannot keep recall at moderate
      // cosine (see embeddingPairsExact's scaladoc); the corpus-derived
      // stride replays in SQL as a scalar subquery (round-9 rule).
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val stride = (Tables.rowCount(s, dir, "embeddings") + 1999L) / 2000L
      Dedup.embeddingPairsExact(emb.filter($"vec_id" % stride === 0),
        "vec_id", "embedding", tau = 0.5)
    },

    // pairwise matches -> keep/drop clusters: connected components over
    // the simhash pair graph (min doc_id labels the component).
    // Round 20 batch 3: the labeling itself is the shared pinned
    // artifact (GraphEdges.simhashComponents) — identical rows to the
    // per-query CC loop it replaces (pure function of documents).
    "dedup_clusters" -> { (s, dir) =>
      GraphEdges.simhashComponents(s, dir)
        .select(col("id").as("doc_id"), col("component"))
    },

    // the SELECTION step that completes the dedup story: per near-dup
    // cluster keep the best-QUALITY member (longest text, doc_id
    // tie-break), not blindly the min id. n_chars re-attaches to the
    // pinned component labeling by a doc_id equi-join (exact on the
    // key — the round-20 artifact form of the old pass-through vertex
    // column); the member count shares the survivor window's
    // partitioning — ONE window shuffle over the high-cardinality
    // component key total, no second consumer, no persist.
    "dedup_keep_best" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val comp = GraphEdges.simhashComponents(s, dir)
        .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      val byComponent = Window.partitionBy(col("component"))
      comp
        .withColumn("__rn", row_number().over(byComponent
          .orderBy(col("n_chars").desc, col("id").asc)))
        .withColumn("n_members", count(lit(1)).over(byComponent))
        .filter(col("__rn") === 1)
        .select(col("component"), col("id").as("survivor_id"),
          col("n_chars").as("survivor_chars"), col("n_members"))
    }
  )

  /** DuckDB SQL fragments shared by the brute-force oracles. */
  private val shingles3 =
    """list_distinct(list_transform(range(0, len(string_split(text, ' ')) - 2),
      | gi -> string_split(text, ' ')[CAST(gi + 1 AS INT)] || ' ' ||
      |   string_split(text, ' ')[CAST(gi + 2 AS INT)] || ' ' ||
      |   string_split(text, ' ')[CAST(gi + 3 AS INT)]))""".stripMargin
  private val ngrams5 =
    """list_distinct(list_transform(range(1, length(text) - 3),
      | gi -> substr(text, CAST(gi AS INT), 5)))""".stripMargin

  private def jaccardPairSql(setExpr: String): String =
    s"""WITH s AS (SELECT doc_id, $setExpr AS sh FROM documents),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  len(list_intersect(a.sh, b.sh)) AS i,
       |  len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(i AS DOUBLE) / u AS jaccard
       |FROM p WHERE 2 * i >= u AND u > 0""".stripMargin

  /** cosine(a,b) as a strict left fold — bit-identical to CosineSim. */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
         | (gx, gy) -> gx + gy)""".stripMargin
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** simhash CTE chain (w -> h -> sh), shared by the pair and cluster
    * oracles so the hash family is defined once.
    */
  private[queries] def simhashCtes(base: String = "documents"): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $base),
      |h AS (SELECT doc_id, list_transform(ws, gw ->
      |  list_reduce(list_transform(range(1, len(gw) + 1),
      |    gi -> CAST(ord(substr(gw, CAST(gi AS INT), 1)) AS BIGINT)),
      |    (ga, gc) -> (ga * 31 + gc) % 1073741789) * 1073741824
      |  + list_reduce(list_transform(range(1, len(gw) + 1),
      |    gi -> CAST(ord(substr(gw, CAST(gi AS INT), 1)) AS BIGINT)),
      |    (ga, gc) -> (ga * 37 + gc) % 536870909)) AS hs FROM w),
      |sh AS (SELECT doc_id, list_reduce(list_transform(range(0, 60), gb ->
      |  CASE WHEN 2 * len(list_filter(hs, gx -> ((gx >> gb) & 1) = 1)) >= len(hs)
      |    THEN (CAST(1 AS BIGINT) << CAST(gb AS INT)) ELSE CAST(0 AS BIGINT) END),
      |  (gx, gy) -> gx + gy) AS sh FROM h)""".stripMargin

  private val simhashSql =
    s"""WITH ${simhashCtes()}
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin

  /** Transitive closure of the simhash pair graph — the brute-force
    * truth for the distributed connected-components operator.
    */
  private[queries] val clustersCtePrefix =
    s"""WITH RECURSIVE ${simhashCtes()},
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(u, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u)""".stripMargin

  private val clustersSql =
    s"""$clustersCtePrefix
      |SELECT u AS doc_id, min(lbl) AS component FROM reach GROUP BY u""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies, min(length(text)) AS n_chars
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dedup_minhash" -> jaccardPairSql(shingles3),
    "dedup_ngram" -> jaccardPairSql(ngrams5),
    "dedup_simhash" -> simhashSql,
    "dedup_clusters" -> clustersSql,

    "dedup_keep_best" ->
      s"""$clustersCtePrefix,
         |comp AS (SELECT u AS doc_id, min(lbl) AS component
         |  FROM reach GROUP BY u),
         |j AS (SELECT c.component, d.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |m AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
         |  FROM comp GROUP BY component)
         |SELECT j.component, j.doc_id AS survivor_id,
         |  CAST(j.n_chars AS BIGINT) AS survivor_chars, m.n_members
         |FROM j JOIN m USING (component) WHERE rn = 1""".stripMargin,

    // the audit stratum (stride = ceil(n/2000), a no-op at the sf0.01
    // gate where n = 500) replays as a scalar-subquery stride — the
    // corpus-derived-constant rule
    "dedup_embedding" ->
      s"""WITH st AS (SELECT (count(*) + 1999) // 2000 AS stride
         |  FROM embeddings),
         |e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % (SELECT stride FROM st) = 0),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cos
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.5""".stripMargin
  )
}
