package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 session-3 relational additions (2): seed-set centrality
  * and a deterministic bootstrap.
  *
  * `q126_harmonic` — HARMONIC centrality from a fixed 6-customer seed
  * set over the q91 co-trade bipartite graph (customers·2 even,
  * suppliers·2+1 odd): H(v) = Σ_seeds 1/d(seed, v) within 4 hops —
  * the "how reachable is this node from the anchor accounts" number,
  * the closeness family's member that handles disconnection for free
  * (unreached seeds contribute 0, no infinite distances). FLOAT-FREE:
  * distances d ∈ {1..4} all divide 12, so contributions fold as
  * EXACT integers 12/d ∈ {12,6,4,3} (h12 = 12·H) and integer sums
  * are order-independent — the q90/q91 fixed-point discipline without
  * even a truncation leak; ONE final division renders the double.
  * Scale shape = q91's: the edge relation builds once (partial-agg
  * distinct pairs, never a row² self-join), repartition(src) +
  * persist; a BFS round is one equi-join against co-partitioned
  * edges + one (seed, node)-keyed partial-agg min — the frontier is
  * ≤|seeds|·|V| rows; per-round persist for the double consumer (the
  * q91 Bellman-Ford structural fact); 4 rounds is the fixed-depth
  * contract. Top-100 via orderBy+limit (TakeOrderedAndProject).
  *
  * `q127_bootstrap_trend` — DETERMINISTIC pair-bootstrap CI for the
  * q125 OLS slope: B = 64 resamples of the daily (i, y) series where
  * resample b's j-th draw is day ((2654435761·b + 1013904223·j) mod
  * n) + 1 — the committed-constant multiplicative-hash rule (NO RNG
  * anywhere, the corpus_shuffle_shards/q107 discipline), so DuckDB
  * replays every draw bit-for-bit. Per-resample moment sums are
  * exact BIGINT; each slope is the q125 fixed double tree (degenerate
  * sxx → null, filtered identically on both engines); the CI is the
  * ceil-rank rule (q68 discipline) over the ≤64 sorted slopes.
  * Scale: the series is days-bounded, so the whole 64n draw grid is
  * ~64·#days rows at ANY corpus size — the fact table is touched
  * once, by q125's daily rollup.
  */
object RelationalQueries19 extends graft.QueryModule {

  private def centsCol = (col("o_totalprice").cast("decimal(15,2)") * 100)
    .cast("long")
  private val centsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"

  private val B = 64 // bootstrap resamples (committed constant)

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q126_harmonic" -> { (s, dir) =>
      import s.implicits._
      // the min-dist table from the fixed seed set is the shared
      // GraphEdges.cotradeSeedWalks artifact (round 21 — VERDICT r20
      // item 1; q135_betweenness reads the same table): a length-k walk
      // exists iff the node is within k hops, so the walk table's
      // min-dist column IS the 4-round BFS min-relax result this query
      // used to iterate per pass (the 4-round broadcast loop — see the
      // artifact's scaladoc — now runs once per session; the old
      // per-pass loop shape is preserved inside the artifact build).
      // sigma (shortest-path counts) is q135's column; ignored here.
      val dF = GraphEdges.cotradeSeedWalks(s, dir)
        .select($"seed", $"node", $"dist")
      dF.filter($"dist" >= 1L && $"dist" <= 4L)
        .groupBy($"node").agg(sum(expr("12 DIV dist")).as("h12"))
        .select($"node", ($"node" % 2).as("ntype"), $"h12",
          ($"h12".cast("double") / lit(12.0)).as("harmonic"))
        .orderBy($"h12".desc, $"node".asc).limit(100)
    },

    "q127_bootstrap_trend" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(centsCol).as("y"))
      // the draw grid + per-resample moments + ceil-rank CI are the
      // SHARED operators.Trend kernel (one definition with the
      // streaming dailyCentsMaintained consumer)
      graft.operators.Trend.bootstrapTrend(daily, B)
    }
  )

  /** One unrolled BFS min-relax round as a DuckDB CTE. */
  private def bfsRoundSql(prev: String, out: String): String =
    s"""$out AS (SELECT seed, node, min(dist) AS dist FROM (
       |    SELECT seed, node, dist FROM $prev
       |    UNION ALL
       |    SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
       |    FROM $prev d JOIN e ON e.src = d.node)
       |  GROUP BY seed, node)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "q126_harmonic" -> {
      val rounds = (1 to 4)
        .map(i => bfsRoundSql(if (i == 1) "d0" else s"d${i - 1}", s"d$i"))
        .mkString(",\n")
      s"""WITH cs AS (SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS src,
         |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM cs
         |  UNION ALL SELECT dst AS src, src AS dst FROM cs),
         |sd AS (SELECT CAST(unnest([2, 4, 6, 8, 10, 12]) AS BIGINT)
         |    AS seed),
         |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist
         |  FROM sd),
         |$rounds
         |SELECT node, node % 2 AS ntype,
         |  CAST(sum(12 // dist) AS BIGINT) AS h12,
         |  CAST(CAST(sum(12 // dist) AS BIGINT) AS DOUBLE)
         |    / CAST(12.0 AS DOUBLE) AS harmonic
         |FROM d4 WHERE dist BETWEEN 1 AND 4
         |GROUP BY node
         |ORDER BY h12 DESC, node ASC LIMIT 100""".stripMargin
    },

    "q127_bootstrap_trend" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum($centsSql) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |idx AS (SELECT y,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
         |  FROM daily),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
         |draws AS (SELECT b.b,
         |    (CAST(2654435761 AS BIGINT) * b.b
         |      + CAST(1013904223 AS BIGINT) * j.i) % tot.n + 1 AS i
         |  FROM idx j CROSS JOIN tot
         |  CROSS JOIN (SELECT unnest(range(1, ${B + 1})) AS b) b),
         |sums AS (SELECT d.b, CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(x.i) AS BIGINT) AS sx,
         |    CAST(sum(x.i * x.i) AS BIGINT) AS sx2,
         |    CAST(sum(x.y) AS BIGINT) AS sy,
         |    CAST(sum(x.i * x.y) AS BIGINT) AS sxy
         |  FROM draws d JOIN idx x ON d.i = x.i GROUP BY d.b),
         |sl AS (SELECT CAST(m AS DOUBLE) * CAST(sx2 AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS sxx,
         |    CAST(m AS DOUBLE), CAST(sx AS DOUBLE) AS sxd,
         |    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS sxyc
         |  FROM sums),
         |sl2 AS (SELECT CASE WHEN sxx > 0.0 THEN sxyc / sxx
         |    ELSE NULL END AS slope FROM sl),
         |arr AS (SELECT list(slope ORDER BY slope) AS sl
         |  FROM sl2 WHERE slope IS NOT NULL)
         |SELECT CAST(coalesce(len(sl), 0) AS BIGINT) AS n_resamples,
         |  CASE WHEN coalesce(len(sl), 0) > 0
         |    THEN sl[CAST(greatest(ceil(0.025 * len(sl)), 1) AS INT)]
         |    ELSE NULL END AS slope_lo,
         |  CASE WHEN coalesce(len(sl), 0) > 0
         |    THEN sl[CAST(ceil(0.975 * len(sl)) AS INT)]
         |    ELSE NULL END AS slope_hi
         |FROM arr""".stripMargin
  )
}
