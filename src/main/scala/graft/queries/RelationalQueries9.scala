package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Ninth relational wave (SURVEY.md §2.2, round 4): recursive CTEs
  * (Spark 4.1's UnionLoop execution), the ntile/cume_dist window
  * family, bitwise aggregates, ordered string aggregation, sequential
  * EWMA folds, interval-overlap arithmetic, array set operations, and
  * the 2-D Pareto frontier ([[graft.operators.Skyline]]).
  */
object RelationalQueries9 extends graft.QueryModule {

  /** Recursive traversal over a functional edge set derived from
    * nation; Spark 4.1 plans WITH RECURSIVE natively (UnionLoopExec) —
    * each iteration is a distributed join against the previous
    * frontier, so the recursion scales with cluster width. Every
    * iteration costs a fixed scheduling round-trip regardless of data
    * volume, so the depth guard (6) is the latency knob on cyclic
    * graphs whose frontier never empties. The edge derivation is
    * shared SQL text; Spark materializes it once (an eager
    * localCheckpoint registered as a momentary temp view) where the
    * oracle inlines it as a CTE — without the materialization,
    * UnionLoop re-derives the edge join on every iteration. The view
    * is dropped as soon as the recursive plan is analyzed (resolution
    * embeds the checkpointed relation), so the query leaves no
    * catalog or cache residue behind.
    */
  private val edgeSql: String =
    """SELECT n1.n_nationkey AS src, n2.n_nationkey AS dst
      |FROM nation n1 JOIN nation n2
      |  ON n2.n_nationkey = (n1.n_nationkey + n1.n_regionkey + 1) % 25""".stripMargin

  // the BROADCAST hint is a comment to DuckDB (shared oracle text) and a
  // join-strategy pin to Spark: the checkpointed edge relation has no
  // stats, so without it every UnionLoop iteration sort-merge-joins the
  // tiny edge table instead of broadcasting it
  private def recursiveSql(edges: String): String =
    s"""WITH RECURSIVE r(node, depth) AS (
      |  SELECT n_nationkey, 0 FROM nation WHERE n_regionkey = 0
      |  UNION ALL
      |  SELECT /*+ BROADCAST(e) */ e.dst, r.depth + 1
      |  FROM r JOIN $edges e ON e.src = r.node
      |  WHERE r.depth < 6)
      |SELECT CAST(node AS BIGINT) AS node,
      |  CAST(min(depth) AS BIGINT) AS min_depth,
      |  CAST(count(*) AS BIGINT) AS n_visits
      |FROM r GROUP BY node""".stripMargin

  val defs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // recursive CTE: multi-source reachability with depth over a
    // derived edge set; the oracle runs the same recursion with the
    // edge SQL inlined as a CTE
    "q70_recursive_cte" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(edgeSql).localCheckpoint(eager = true)
        .createOrReplaceTempView("__q70_edges")
      val out = s.sql(recursiveSql("__q70_edges"))
      s.catalog.dropTempView("__q70_edges")
      out
    },

    // ntile + cume_dist partitioned by a HIGH-cardinality key (customer)
    // — the per-partition sort distributes across the shuffle; a global
    // ORDER BY (no partition) would be a single-task window. The
    // composite (price, orderkey) order is a total order, so cume_dist
    // peer groups are singletons and both engines bit-agree on the
    // small-integer division.
    "q71_ntile_cume" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".cast("decimal(15,2)").asc, $"o_orderkey".asc)
      Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          ntile(4).over(w).as("tile"),
          cume_dist().over(w).as("cume"))
    },

    // bitwise AND/OR/XOR aggregates over the order keys per flag pair —
    // decomposable, so Catalyst plans map-side partial aggregation and
    // the exchange carries 3 longs per group
    "q72_bit_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(bit_and($"l_orderkey").as("key_and"),
          bit_or($"l_orderkey").as("key_or"),
          bit_xor($"l_orderkey").as("key_xor"),
          count(lit(1)).as("n"))
    },

    // ordered string aggregation: the set of market segments per nation
    // as one deterministic comma-joined string. DISTINCT first — the
    // aggregated set is bounded by segment cardinality, never by row
    // count, so the per-group string cannot grow with the corpus.
    "q73_string_agg" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer")
      Tables.load(s, dir, "nation")
        .join(cust, $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(array_join(array_sort(collect_set($"c_mktsegment")), ",")
            .as("segments"),
          countDistinct($"c_custkey").as("n_cust"))
    },

    // sequential EWMA per customer: s_i = a*x_i + (1-a)*s_{i-1} is an
    // inherently ordered fold, expressed as sort_array(collect_list)
    // + a codegen'd higher-order `aggregate` — per-group state only
    // (bounded by orders-per-customer), no window, no UDF. The fold
    // runs strictly left-to-right so DuckDB's list_reduce replays the
    // identical IEEE sequence (same discipline as cosine_sim).
    "q74_ewma" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .select($"o_custkey", struct($"o_orderdate", $"o_orderkey",
          $"o_totalprice".cast("decimal(15,2)").cast("double").as("v")).as("rec"))
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sort_array(collect_list($"rec")).as("recs"))
        .withColumn("xs", expr("transform(recs, r -> r.v)"))
        .select($"o_custkey", $"n_orders",
          expr("aggregate(slice(xs, 2, size(xs) - 1), xs[0]," +
            " (s, x) -> 0.5D * x + 0.5D * s)").as("ewma"))
    },

    // interval-overlap arithmetic: microseconds of each event's 1-hour
    // activity window falling inside its day's 02:00-03:00 maintenance
    // window — pure integer clamp arithmetic on epoch micros (the
    // ns-precision discipline from Tables.events), row-local then one
    // partial-agg shuffle
    "q75_interval_overlap" -> { (s, dir) =>
      import s.implicits._
      val us = 1000000L
      Tables.events(s, dir)
        .select($"event_type", unix_micros($"ts").as("t"),
          unix_micros(date_trunc("DAY", $"ts")).as("d0"))
        .withColumn("ov", greatest(lit(0L),
          least($"t" + lit(3600 * us), $"d0" + lit(3 * 3600 * us)) -
            greatest($"t", $"d0" + lit(2 * 3600 * us))))
        .groupBy($"event_type")
        .agg(sum($"ov").as("overlap_us"),
          sum(when($"ov" > 0, 1L).otherwise(0L)).as("n_overlapping"),
          count(lit(1)).as("n"))
    },

    // array set operations per order: distinct part sets of odd vs even
    // line numbers, intersected/diffed with the codegen'd array kernels
    // and emitted as sorted joined strings (canonical, engine-neutral
    // rendering. Set inputs are built with collect_set so every array
    // op runs on distinct elements — outputs stay distinct and sorts
    // are unambiguous.)
    "q76_array_setops" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_orderkey")
        .agg(
          collect_set(when($"l_linenumber" % 2 === 1, $"l_partkey")).as("pa"),
          collect_set(when($"l_linenumber" % 2 === 0, $"l_partkey")).as("pb"))
        .select($"l_orderkey",
          array_join(array_sort(array_intersect($"pa", $"pb")), ",").as("common"),
          array_join(array_sort(array_except($"pa", $"pb")), ",").as("only_odd"),
          array_join(array_sort(array_except($"pb", $"pa")), ",").as("only_even"),
          size(array_intersect($"pa", $"pb")).as("n_common"))
    },

    // 2-D Pareto frontier: cheapest-and-fullest line items (minimize
    // price, maximize quantity — price negated into the maximize
    // convention). Skyline.pareto2D: grouped max + two-phase prefix
    // max + tiny broadcast join-back, no all-pairs and no global
    // window. The 50-value quantity is the grouping dim, so the one
    // full-data pass is a codegen'd 50-group aggregation.
    "q77_pareto" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.Skyline
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          $"l_extendedprice".cast("decimal(15,2)").as("price"),
          $"l_quantity".cast("long").as("qty"))
        .withColumn("neg_price", negate($"price"))
      Skyline.pareto2D(li, "qty", "neg_price")
        .select($"l_orderkey", $"l_linenumber",
          $"price".cast("double").as("price"), $"qty")
    },

    // CONTINUOUS (interpolated) per-group median — percentile_cont
    // semantics, vs q68's discrete vector: both bounding ranks
    // ((n+1) div 2 and n div 2 + 1; equal when n is odd, selectRanks
    // emits a row per label on the collision) come from ONE RankSelect
    // range shuffle, and the midpoint is a single identical double
    // expression on both engines
    "q78_percentile_cont" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.RankSelect
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderpriority", $"o_orderkey",
          $"o_totalprice".cast("decimal(15,2)").as("v"))
      RankSelect.selectRanksCapped(o, Seq("o_orderpriority"),
          n => Seq("lo" -> ((n + 1L) / 2L), "hi" -> (n / 2L + 1L)),
          "q", "n", 10000, $"v", $"o_orderkey")
        .groupBy($"o_orderpriority", $"n")
        .agg(max(when($"q" === "lo", $"v")).as("vlo"),
          max(when($"q" === "hi", $"v")).as("vhi"))
        .select($"o_orderpriority", $"n",
          (($"vlo".cast("double") + $"vhi".cast("double")) / lit(2.0))
            .as("median_cont"))
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "q70_recursive_cte" ->
      (s"WITH RECURSIVE e AS (\n$edgeSql),\n" +
        recursiveSql("e").stripPrefix("WITH RECURSIVE ")),

    "q71_ntile_cume" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ntile(4) OVER w AS INT) AS tile,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(o_totalprice AS DECIMAL(15,2)) ASC, o_orderkey ASC)""".stripMargin,

    "q72_bit_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(bit_and(l_orderkey) AS BIGINT) AS key_and,
        |  CAST(bit_or(l_orderkey) AS BIGINT) AS key_or,
        |  CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q73_string_agg" ->
      """SELECT n_name,
        |  array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
        |    AS segments,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q74_ewma" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  list_reduce(
        |    list(CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE)
        |      ORDER BY o_orderdate, o_orderkey),
        |    (s, x) -> 0.5 * x + 0.5 * s) AS ewma
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q75_interval_overlap" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t,
        |    epoch_us(date_trunc('day', ts)) AS d0
        |  FROM events),
        |o AS (
        |  SELECT event_type,
        |    greatest(0, least(t + 3600000000, d0 + 10800000000)
        |      - greatest(t, d0 + 7200000000)) AS ov
        |  FROM e)
        |SELECT event_type, CAST(sum(ov) AS BIGINT) AS overlap_us,
        |  CAST(sum(CASE WHEN ov > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_overlapping,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM o GROUP BY event_type""".stripMargin,

    "q76_array_setops" ->
      """WITH s AS (
        |  SELECT l_orderkey,
        |    coalesce(list_distinct(list(l_partkey)
        |      FILTER (WHERE l_linenumber % 2 = 1)), []) AS pa,
        |    coalesce(list_distinct(list(l_partkey)
        |      FILTER (WHERE l_linenumber % 2 = 0)), []) AS pb
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  coalesce(array_to_string(list_sort(list_intersect(pa, pb)),
        |    ','), '') AS common,
        |  coalesce(array_to_string(list_sort(list_filter(pa,
        |    x -> NOT list_contains(pb, x))), ','), '') AS only_odd,
        |  coalesce(array_to_string(list_sort(list_filter(pb,
        |    x -> NOT list_contains(pa, x))), ','), '') AS only_even,
        |  CAST(len(list_intersect(pa, pb)) AS INT) AS n_common
        |FROM s""".stripMargin,

    // sort-based skyline in declarative SQL (the all-pairs NOT EXISTS
    // spec is quadratic — a nested loop over every lineitem pair — so
    // the oracle uses the O(n log n) single-window formulation instead;
    // SkylineSpec asserts equivalence to NOT EXISTS on small data):
    // survive iff qty is your price-group max AND strictly exceeds the
    // best qty at any strictly cheaper price
    "q77_pareto" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |g AS (SELECT price, max(qty) AS qmax FROM li GROUP BY price),
        |sl AS (
        |  SELECT price, qmax, max(qmax) OVER (ORDER BY price ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM g)
        |SELECT l.l_orderkey, l.l_linenumber,
        |  CAST(l.price AS DOUBLE) AS price, l.qty
        |FROM li l JOIN sl s ON l.price = s.price AND l.qty = s.qmax
        |WHERE s.pm IS NULL OR s.qmax > s.pm""".stripMargin,

    "q78_percentile_cont" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS g, o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(15,2)) AS v
        |  FROM orders),
        |r AS (
        |  SELECT g, v,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY v, k)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM o)
        |SELECT g AS o_orderpriority, n,
        |  (CAST(max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS DOUBLE)
        |   + CAST(max(CASE WHEN rn = n // 2 + 1 THEN v END) AS DOUBLE))
        |  / 2.0 AS median_cont
        |FROM r GROUP BY g, n""".stripMargin
  )
}
