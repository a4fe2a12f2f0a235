package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{Quality, RangeJoin}

/** Round-8 additions, third relational wave.
  *
  * `q100_attribution` — position-based (U-shaped 40/20/40) multi-touch
  * attribution, the credit-assignment pattern marketing/event pipelines
  * run after funnels: every purchase distributes one unit of credit
  * over the user's clicks in the preceding 24 h — 40% to the first
  * touch, 40% to the last, 20% split over the middles. Credits stay
  * RATIONAL (credit_num/credit_den integer columns, no float sum ever
  * forms) so parity is exact and downstream rollups stay
  * order-independent. Candidate pairs come from
  * [[RangeJoin.pairsInPrecedingWindow]]'s bucket scheme — O(|P|+2|C|)
  * shuffle, heavy users spread across (user, bucket) partitions — and
  * position/count are ONE window pass over the high-cardinality
  * purchase_id partition (no low-cardinality window cliff).
  *
  * `layout_zorder` — the oracle-gated face of
  * [[graft.operators.Layout.writeZOrderedParquet]]: buckets
  * (l_partkey, l_suppkey) to 8 bits each by exact integer arithmetic
  * (positive operands only — the round-3 `//` truncation trap), bit-
  * interleaves them into a 16-bit Morton z-value with built-in
  * shift/and/or (whole-stage codegen, no UDF), and reports per
  * 1024-wide z-range how tight BOTH dimensions' min/max spans stay.
  * The point the numbers make: every one of the 64 z-ranges confines
  * bp AND bs to ≤ 1/8 of their domains (span ≤ 31 of 255) — the
  * min/max file-skipping guarantee a z-ordered layout buys on every
  * listed column, where a single-column sort bounds only its leading
  * key. Pure arithmetic end-to-end, replayed value-for-value by the
  * oracle.
  *
  * `dq_referential` — referential-integrity audit over the star
  * schema's four fact→dim edges via [[Quality.orphanCount]]: one hash
  * join per edge shuffled on the key (parent side reduced to distinct
  * keys map-side first), counts partial-aggregated — the distributed
  * FK check a 100 TB ingest gate runs, joined with the single-pass
  * rule audit corpus_audit already exercises.
  */
object RelationalQueries13 extends graft.QueryModule {

  /** Morton interleave of two `bits`-bit columns: bit i of `a` lands at
    * 2i, bit i of `b` at 2i+1. Built-in shifts only — codegen'd.
    */
  private def zInterleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q100_attribution" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val pairs = RangeJoin.pairsInPrecedingWindow(
        ev.filter($"event_type" === "purchase"),
        ev.filter($"event_type" === "click"),
        keyCol = "user_id", tsCol = "ts",
        windowMicros = 86400L * 1000000L)
      // position within the purchase's click set: total order
      // (click_us, click_id) — deterministic under timestamp ties
      val wOrd = Window.partitionBy($"left_id").orderBy($"right_us", $"right_id")
      val wAll = Window.partitionBy($"left_id")
      pairs
        .withColumn("pos", row_number().over(wOrd).cast("long"))
        .withColumn("k", count(lit(1)).over(wAll))
        .select($"left_id".as("purchase_id"), $"key".as("user_id"),
          $"right_id".as("click_id"), $"pos", $"k",
          when($"k" === 1, 1L).when($"k" === 2, 1L)
            .when($"pos" === 1 || $"pos" === $"k", 2L)
            .otherwise(1L).as("credit_num"),
          when($"k" === 1, 1L).when($"k" === 2, 2L)
            .when($"pos" === 1 || $"pos" === $"k", 5L)
            .otherwise(lit(5L) * ($"k" - lit(2L))).as("credit_den"))
    },

    "layout_zorder" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_partkey", $"l_suppkey")
      // exact integer bucketing against the (tiny, broadcast) maxima:
      // keys are 1-based, so (key-1)*256 div mx lands in [0, 256)
      val mx = li.agg(max($"l_partkey").as("mp"), max($"l_suppkey").as("ms"))
      li.crossJoin(broadcast(mx))
        .withColumn("bp", expr("((l_partkey - 1L) * 256L) div mp"))
        .withColumn("bs", expr("((l_suppkey - 1L) * 256L) div ms"))
        .withColumn("__zv", zInterleave($"bp", $"bs", 8))
        .withColumn("zrange", expr("__zv div 1024L"))
        .groupBy($"zrange")
        .agg(count(lit(1)).as("n_rows"),
          (max($"bp") - min($"bp")).as("bp_span"),
          (max($"bs") - min($"bs")).as("bs_span"))
    },

    // k-anonymity / l-diversity release audit (Sweeney 2002 /
    // Machanavajjhala 2007): quasi-identifier = (nation, account-
    // balance bucket), sensitive attribute = market segment. A row is
    // re-identifiable if its QI equivalence class has < k members, and
    // attribute-disclosable if the class shows < l distinct sensitive
    // values — the gate a dataset must pass before leaving the trust
    // boundary. ONE groupBy on the QI (count + count_distinct, both
    // map-side partial); the bucket is floor(acctbal/1000) — a single
    // IEEE division + true floor, identical on both engines including
    // negative balances (floor, never truncation — the round-3 trap).
    "dq_kanon" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "customer")
        .withColumn("bal_bucket",
          floor($"c_acctbal" / lit(1000.0)).cast("long"))
        .groupBy($"c_nationkey", $"bal_bucket")
        .agg(count(lit(1)).as("n"),
          count_distinct($"c_mktsegment").as("n_sensitive"))
        .filter($"n" < 5 || $"n_sensitive" < 2)
    },

    // `dq_tcloseness` — T-CLOSENESS audit (round 16), the step past
    // dq_kanon's k/l gate: per quasi-identifier group, the TOTAL
    // VARIATION DISTANCE between the group's sensitive-value
    // distribution and the global one — a group can pass k-anonymity
    // and distinct-l-diversity yet still leak via a skewed sensitive
    // mix; TVD is the categorical t-closeness metric. All arithmetic
    // EXACT integers until one final division: TVD = Σ_v |n_gv/n_g −
    // n_v/n| / 2 scales to tvd_num = Σ_v |n_gv·n − n_v·n_g| (absent
    // values contribute n_v·n_g — the full group×value grid, not just
    // observed pairs), t = tvd_num / (2·n_g·n) as one fixed double
    // tree. Products ≤ n² stay far inside 2^63 for n ≤ ~3·10⁹ rows —
    // the scale envelope of the EXACT form (both engines throw loudly
    // on overflow, never silently wrap; past that bound cast the two
    // count factors to double before the product — per-group sums stay
    // exact). Scale: ONE partial-aggregated rollup over the fact
    // table; everything downstream is groups×|values| bounded with
    // broadcast joins — flat across the supported envelope.
    "dq_tcloseness" -> { (s, dir) =>
      import s.implicits._
      val ngv = Tables.load(s, dir, "customer")
        .withColumn("bal_bucket",
          floor($"c_acctbal" / lit(1000.0)).cast("long"))
        .groupBy($"c_nationkey", $"bal_bucket", $"c_mktsegment")
        .agg(count(lit(1)).as("n_gv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ng = ngv.groupBy($"c_nationkey", $"bal_bucket")
        .agg(sum($"n_gv").as("n_g"))
      val nv = ngv.groupBy($"c_mktsegment").agg(sum($"n_gv").as("n_v"))
      val nn = ngv.agg(sum($"n_gv").as("n"))
      ng.crossJoin(broadcast(nv))
        .join(ngv, Seq("c_nationkey", "bal_bucket", "c_mktsegment"), "left")
        .crossJoin(broadcast(nn))
        .groupBy($"c_nationkey", $"bal_bucket", $"n_g", $"n")
        .agg(sum(abs(coalesce($"n_gv", lit(0L)) * $"n" - $"n_v" * $"n_g"))
          .as("tvd_num"))
        .select($"c_nationkey", $"bal_bucket", $"n_g", $"tvd_num",
          ($"tvd_num".cast("double") /
            (lit(2.0) * $"n_g".cast("double") * $"n".cast("double")))
            .as("t"))
    },

    // distribution-drift audit (the training-data monitoring staple):
    // two-sample chi-square contingency between the pre/post-1998 order
    // eras over 10 fixed-width price buckets. The heavy part is ONE
    // partial-aggregated (bucket, era) rollup over the fact table; the
    // marginals come from windows over the 20-row AGGREGATED frame (the
    // q84 downsample-then-window discipline — never a window over the
    // facts). Expected counts and contributions are one fixed IEEE
    // expression tree per row — integer products first (R·C < 2^63 is
    // the asserted-invariant bound), exactly one division each, squares
    // as self-multiplication (never pow — the libm rule).
    "dq_drift" -> { (s, dir) =>
      import s.implicits._
      val counts = Tables.load(s, dir, "orders")
        .withColumn("bucket", least(lit(9L),
          floor($"o_totalprice" / lit(50000.0)).cast("long")))
        .withColumn("era",
          when($"o_orderdate" < lit("1998-01-01").cast("timestamp"), "pre")
            .otherwise("post"))
        .groupBy($"bucket", $"era")
        .agg(count(lit(1)).as("n"))
      val wb = Window.partitionBy($"bucket")
      val we = Window.partitionBy($"era")
      val wg = Window.partitionBy()
      counts
        .withColumn("row_tot", sum($"n").over(wb))
        .withColumn("col_tot", sum($"n").over(we))
        .withColumn("grand", sum($"n").over(wg))
        .withColumn("expected",
          ($"row_tot" * $"col_tot").cast("double") / $"grand".cast("double"))
        .withColumn("contrib",
          ($"n".cast("double") - $"expected") *
            ($"n".cast("double") - $"expected") / $"expected")
        .select($"bucket", $"era", $"n", $"expected", $"contrib")
    },

    "dq_referential" -> { (s, dir) =>
      def t(n: String) = Tables.load(s, dir, n)
      Quality.orphanCount(t("lineitem"), "l_orderkey",
          t("orders"), "o_orderkey", "lineitem.l_orderkey")
        .union(Quality.orphanCount(t("lineitem"), "l_partkey",
          t("part"), "p_partkey", "lineitem.l_partkey"))
        .union(Quality.orphanCount(t("lineitem"), "l_suppkey",
          t("supplier"), "s_suppkey", "lineitem.l_suppkey"))
        .union(Quality.orphanCount(t("orders"), "o_custkey",
          t("customer"), "c_custkey", "orders.o_custkey"))
    }
  )

  private def zSql(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($a >> $i) & 1) << ${2 * i})",
      s"((($b >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  val oracles: Seq[(String, String)] = Seq(
    "q100_attribution" ->
      """WITH j AS (
        |  SELECT p.event_id AS purchase_id, p.user_id,
        |    c.event_id AS click_id, epoch_us(c.ts) AS c_us
        |  FROM events p JOIN events c
        |    ON p.user_id = c.user_id
        |   AND p.event_type = 'purchase' AND c.event_type = 'click'
        |   AND epoch_us(c.ts)
        |     BETWEEN epoch_us(p.ts) - 86400000000 AND epoch_us(p.ts)),
        |r AS (
        |  SELECT purchase_id, user_id, click_id,
        |    row_number() OVER (PARTITION BY purchase_id
        |                       ORDER BY c_us, click_id) AS pos,
        |    count(*) OVER (PARTITION BY purchase_id) AS k
        |  FROM j)
        |SELECT purchase_id, user_id, click_id,
        |  CAST(pos AS BIGINT) AS pos, CAST(k AS BIGINT) AS k,
        |  CAST(CASE WHEN k = 1 THEN 1 WHEN k = 2 THEN 1
        |            WHEN pos = 1 OR pos = k THEN 2 ELSE 1 END AS BIGINT)
        |    AS credit_num,
        |  CAST(CASE WHEN k = 1 THEN 1 WHEN k = 2 THEN 2
        |            WHEN pos = 1 OR pos = k THEN 5
        |            ELSE 5 * (k - 2) END AS BIGINT) AS credit_den
        |FROM r""".stripMargin,

    "layout_zorder" ->
      s"""WITH m AS (SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms
         |           FROM lineitem),
         |b AS (SELECT ((l_partkey - 1) * 256) // mp AS bp,
         |             ((l_suppkey - 1) * 256) // ms AS bs
         |      FROM lineitem, m),
         |z AS (SELECT bp, bs, (${zSql("bp", "bs", 8)}) AS zv FROM b)
         |SELECT zv // 1024 AS zrange, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(max(bp) - min(bp) AS BIGINT) AS bp_span,
         |  CAST(max(bs) - min(bs) AS BIGINT) AS bs_span
         |FROM z GROUP BY zv // 1024""".stripMargin,

    "dq_kanon" ->
      """WITH b AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |    c_mktsegment
        |  FROM customer),
        |g AS (SELECT c_nationkey, bal_bucket,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
        |  FROM b GROUP BY c_nationkey, bal_bucket)
        |SELECT * FROM g WHERE n < 5 OR n_sensitive < 2""".stripMargin,

    // exact-integer TVD over the full group×value grid; one double
    // division at the end (the same fixed tree as the Spark side)
    "dq_tcloseness" ->
      """WITH b AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |    c_mktsegment
        |  FROM customer),
        |ngv AS (SELECT c_nationkey, bal_bucket, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n_gv
        |  FROM b GROUP BY 1, 2, 3),
        |ng AS (SELECT c_nationkey, bal_bucket,
        |    CAST(sum(n_gv) AS BIGINT) AS n_g
        |  FROM ngv GROUP BY 1, 2),
        |nv AS (SELECT c_mktsegment, CAST(sum(n_gv) AS BIGINT) AS n_v
        |  FROM ngv GROUP BY 1),
        |nn AS (SELECT CAST(sum(n_gv) AS BIGINT) AS n FROM ngv),
        |grid AS (SELECT g.c_nationkey, g.bal_bucket, g.n_g, nn.n,
        |    v.n_v, coalesce(x.n_gv, 0) AS n_gv
        |  FROM ng g CROSS JOIN nv v CROSS JOIN nn
        |  LEFT JOIN ngv x ON x.c_nationkey = g.c_nationkey
        |    AND x.bal_bucket = g.bal_bucket
        |    AND x.c_mktsegment = v.c_mktsegment)
        |SELECT c_nationkey, bal_bucket, n_g,
        |  CAST(sum(abs(n_gv * n - n_v * n_g)) AS BIGINT) AS tvd_num,
        |  CAST(CAST(sum(abs(n_gv * n - n_v * n_g)) AS BIGINT) AS DOUBLE)
        |    / (2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE)) AS t
        |FROM grid GROUP BY c_nationkey, bal_bucket, n_g, n""".stripMargin,

    "dq_drift" ->
      """WITH c AS (
        |  SELECT least(9, CAST(floor(o_totalprice / 50000.0) AS BIGINT))
        |      AS bucket,
        |    CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |         THEN 'pre' ELSE 'post' END AS era,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT bucket, era, n,
        |    sum(n) OVER (PARTITION BY bucket) AS row_tot,
        |    sum(n) OVER (PARTITION BY era) AS col_tot,
        |    sum(n) OVER () AS grand
        |  FROM c)
        |SELECT bucket, era, n,
        |  CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE)
        |    AS expected,
        |  (CAST(n AS DOUBLE)
        |     - CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE))
        |  * (CAST(n AS DOUBLE)
        |     - CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE))
        |  / (CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE))
        |    AS contrib
        |FROM m""".stripMargin,

    "dq_referential" ->
      """SELECT 'lineitem.l_orderkey' AS fk_name,
        |  CAST(count(*) AS BIGINT) AS n_child,
        |  CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
        |    AS n_orphans
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS BIGINT)
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |UNION ALL
        |SELECT 'lineitem.l_suppkey',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN su.s_suppkey IS NULL THEN 1 END) AS BIGINT)
        |FROM lineitem l LEFT JOIN supplier su ON l.l_suppkey = su.s_suppkey
        |UNION ALL
        |SELECT 'orders.o_custkey',
        |  CAST(count(*) AS BIGINT),
        |  CAST(count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT)
        |FROM orders o2 LEFT JOIN customer c ON o2.o_custkey = c.c_custkey"""
        .stripMargin
  )
}
