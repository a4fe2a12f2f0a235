package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal pipeline query (SURVEY.md §2.6): documents -> binary media
  * table -> partition-wise feature extraction (stub decoder). The oracle
  * replays the byte histogram in SQL (ASCII corpus: byte == codepoint).
  */
object MultimodalQueries extends graft.QueryModule {

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "mm_extract" -> { (s, dir) =>
      val media = Multimodal.fromDocuments(Tables.load(s, dir, "documents"))
      Multimodal.extractFeatures(media).toDF()
    },

    // frame sampling over video payloads: every 2nd 64-byte chunk; the
    // oracle replays the strided substring arithmetic on the text the
    // payload was derived from (ASCII: byte == char)
    "mm_frames" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, length}
      val media = Multimodal.fromDocuments(Tables.load(s, dir, "documents"))
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 2)
        .select(col("media_id"), col("frame_no"),
          length(col("frame")).as("n_bytes"))
    },

    // perceptual-hash visual dedup: 8x8 average-hash per image payload
    // (integer-only mean compare), duplicate groups counted by hash —
    // the cheap first pass of visual dedup; oracle replays the clamped
    // nearest-neighbor downsample + bit packing in SQL
    "mm_phash" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{col, count, lit}
      val media = graft.operators.Parallelism.ensure(
        Multimodal.fromDocuments(Tables.load(s, dir, "documents")))
      // group size via a window over the (high-cardinality) hash key:
      // the hash kernel and the documents scan run ONCE — a self-join
      // with its own groupBy would compute both twice
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))
      Multimodal.perceptualHash(media).toDF()
        .withColumn("n_same", count(lit(1)).over(w))
        .select(col("media_id"), col("phash"), col("n_same"))
    },

    // audio framing: 256-byte windows, 128-byte hop (the STFT shape),
    // per-window integer energy; the oracle replays the framing + ord()
    // sums on the source text (ASCII: byte == codepoint). The kernel is
    // per-row compute — spread the single-file scan first.
    "mm_audio" -> { (s, dir) =>
      val media = graft.operators.Parallelism.ensure(
        Multimodal.fromDocuments(Tables.load(s, dir, "documents")))
      Multimodal.audioWindows(media, winBytes = 256, hopBytes = 128).toDF()
    },

    // shot-boundary detection: 64-byte frames, cut where the absolute
    // frame-energy delta exceeds 150 (probed mid-range: the payload
    // diff distribution's p50 is 99, p90 225 — real cuts, not all or
    // nothing); oracle replays the framing + delta scan on the source
    // text
    "mm_shot_detect" -> { (s, dir) =>
      val media = graft.operators.Parallelism.ensure(
        Multimodal.fromDocuments(Tables.load(s, dir, "documents")))
      Multimodal.shotBoundaries(media, frameBytes = 64, threshold = 150L).toDF()
    },

    // multimodal retrieval end-to-end: binary media table -> embedding
    // kernel (16-bin nibble histogram stub, integer counts — a real
    // encoder swaps in without touching the plumbing) -> metadata-
    // filtered exact top-k through the ANN stack's bruteForceTopK
    // (kind='image' filters BEFORE the cosine kernel, the ann_filtered
    // pre-filter shape). Proves the multimodal columns flow into the
    // similarity operators; oracle replays the histogram from the
    // source text (ASCII: byte == codepoint) and the strict-fold cosine.
    "mm_search" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{broadcast, col, lit}
      val media = graft.operators.Parallelism.ensure(
        Multimodal.fromDocuments(Tables.load(s, dir, "documents")))
      val emb = Multimodal.embedStub(media).toDF()
        // the embedding frame feeds the query row AND the corpus side
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val q = emb.filter(col("media_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("qv"))
      graft.operators.Similarity.bruteForceTopK(
          emb.filter(col("kind") === "image"), "media_id", "embedding",
          broadcast(q), k = 10)
        .select(col("media_id"), col("kind"), col("cos"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "mm_extract" ->
      """WITH h AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  length(text) AS n_bytes,
        |  list_transform(range(0, 16), gk ->
        |    len(list_filter(range(1, length(text) + 1),
        |      gi -> (ord(substr(text, CAST(gi AS INT), 1)) // 16) = gk))) AS hist
        |  FROM documents)
        |SELECT doc_id AS media_id, kind, n_bytes,
        |  CAST(list_position(hist, list_max(hist)) - 1 AS INT) AS dom_bin,
        |  CAST(len(list_filter(hist, gx -> gx > 0)) AS INT) AS nonzero_bins
        |FROM h""".stripMargin,

    "mm_frames" ->
      """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS L
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT media_id, text,
        |  unnest(range(0, greatest(CAST(floor(L / 64.0) AS INT) - 1, 0) + 1, 2))
        |    AS gi
        |  FROM m)
        |SELECT media_id, CAST(gi // 2 AS INT) AS frame_no,
        |  length(substr(text, CAST(gi * 64 + 1 AS INT), 64)) AS n_bytes
        |FROM f""".stripMargin,

    // the clamped nearest-neighbor 8x8 downsample: src index
    // (y*H/8)*W + (x*W/8) clamped into [0, len-1] — integer division
    // on nonnegative values, so DuckDB // == Scala / here; bit set iff
    // p*64 > sum (strict), rows packed MSB-first into two hex digits
    "mm_phash" ->
      """WITH img AS (SELECT doc_id AS media_id, text,
        |    length(text) AS len,
        |    n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT media_id,
        |    list_transform(range(0, 64), i ->
        |      ord(substr(text, CAST(greatest(least(len - 1,
        |        ((i // 8) * h // 8) * w + ((i % 8) * w // 8)), 0) + 1
        |        AS INT), 1))) AS ps
        |  FROM img),
        |sums AS (SELECT media_id, ps,
        |    list_reduce(ps, (ga, gb) -> ga + gb) AS s FROM px),
        |hx AS (SELECT media_id,
        |    array_to_string(list_transform(range(0, 8), r ->
        |      printf('%02x',
        |        CASE WHEN ps[CAST(r * 8 + 1 AS INT)] * 64 > s THEN 128 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 2 AS INT)] * 64 > s THEN 64 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 3 AS INT)] * 64 > s THEN 32 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 4 AS INT)] * 64 > s THEN 16 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 5 AS INT)] * 64 > s THEN 8 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 6 AS INT)] * 64 > s THEN 4 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 7 AS INT)] * 64 > s THEN 2 ELSE 0 END
        |      + CASE WHEN ps[CAST(r * 8 + 8 AS INT)] * 64 > s THEN 1 ELSE 0 END)),
        |      '') AS phash
        |  FROM sums),
        |grp AS (SELECT phash, CAST(count(*) AS BIGINT) AS n_same
        |  FROM hx GROUP BY phash)
        |SELECT media_id, phash, n_same FROM hx JOIN grp USING (phash)""".stripMargin,

    "mm_audio" ->
      """WITH a AS (SELECT doc_id AS media_id, text, length(text) AS L
        |  FROM documents WHERE doc_id % 3 = 1),
        |w AS (SELECT media_id, text,
        |  -- guard L < 256 explicitly: DuckDB's // truncates toward
        |  -- zero, so (L-256)//128 on a negative numerator is NOT floor
        |  unnest(range(0, CASE WHEN L >= 256
        |    THEN (L - 256) // 128 + 1 ELSE 0 END)) AS wi
        |  FROM a)
        |SELECT media_id, CAST(wi AS INT) AS window_no,
        |  CAST(list_sum(list_transform(range(1, 257),
        |    gi -> ord(substr(text, CAST(wi * 128 + gi AS INT), 1))))
        |    AS BIGINT) AS energy
        |FROM w""".stripMargin,

    "mm_shot_detect" ->
      """WITH v AS (SELECT doc_id AS media_id, text, length(text) // 64 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |e AS (SELECT media_id, nf,
        |  list_transform(range(0, nf), fi ->
        |    CAST(list_sum(list_transform(range(1, 65),
        |      gi -> ord(substr(text, CAST(fi * 64 + gi AS INT), 1))))
        |      AS BIGINT)) AS en
        |  FROM v),
        |d AS (SELECT media_id, nf,
        |  list_transform(range(1, nf),
        |    fi -> abs(en[CAST(fi + 1 AS INT)] - en[CAST(fi AS INT)])) AS deltas
        |  FROM e)
        |SELECT media_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN nf = 0 THEN 0
        |    ELSE len(list_filter(deltas, gd -> gd > 150)) + 1 END AS BIGINT)
        |    AS n_shots,
        |  CAST(coalesce(list_max(deltas), 0) AS BIGINT) AS max_delta
        |FROM d""".stripMargin,

    // histogram from codepoints (ASCII: byte == char, the mm_extract
    // precedent); raw integer counts as DOUBLE make the vector exact on
    // both engines, and the cosine is the standard strict left fold
    "mm_search" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    list_transform(range(0, 16), gk ->
        |      CAST(len(list_filter(range(1, length(text) + 1),
        |        gi -> (ord(substr(text, CAST(gi AS INT), 1)) // 16) = gk))
        |        AS DOUBLE)) AS emb
        |  FROM documents),
        |q AS (SELECT emb AS qv FROM m WHERE media_id = 0),
        |scored AS (
        |  SELECT m.media_id, m.kind,
        |    list_reduce(list_transform(range(1, 17),
        |      gi -> m.emb[CAST(gi AS INT)] * q.qv[CAST(gi AS INT)]),
        |      (gx, gy) -> gx + gy)
        |    / (sqrt(list_reduce(list_transform(range(1, 17),
        |        gi -> m.emb[CAST(gi AS INT)] * m.emb[CAST(gi AS INT)]),
        |        (gx, gy) -> gx + gy))
        |      * sqrt(list_reduce(list_transform(range(1, 17),
        |        gi -> q.qv[CAST(gi AS INT)] * q.qv[CAST(gi AS INT)]),
        |        (gx, gy) -> gx + gy))) AS cos
        |  FROM m, q WHERE m.media_id <> 0 AND m.kind = 'image')
        |SELECT media_id, kind, cos FROM scored
        |ORDER BY cos DESC, media_id ASC LIMIT 10""".stripMargin
  )
}
