package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 44 (SURVEY.md §2.4):
  *
  *  - q180: Value-at-Risk / Conditional-VaR of day-over-day revenue
  *    changes — the risk-metric family's exact order-statistic entry.
  *    The daily frame is date-grain (calendar-bounded: a few thousand
  *    rows at ANY corpus scale — TPC-H's 7-year window), so its lag
  *    window and rank selection are bounded regardless of fact volume;
  *    the heavy work is the one groupBy(date) rollup underneath. VaR
  *    is the k = ⌈n/20⌉-th smallest delta under a (delta, day) total
  *    order; CVaR averages the k tail deltas with the division as the
  *    only float step.
  *  - q181: exact k-core decomposition (k=3) of the nation trade
  *    graph, sparsified to edges at or above the exact 75th-percentile
  *    weight (rank-selected on the nations²-bounded edge frame, total
  *    order (w, a, b)). Peeling runs |nations| rounds — each non-final
  *    round removes at least one node, so the fixpoint is guaranteed —
  *    and each round is one bounded degree-count + semi-join over the
  *    condensed edge list. The DuckDB oracle unrolls the same rounds
  *    as MATERIALIZED CTEs (inlined CTEs would re-expand the base scan
  *    exponentially). Companion to q64/q67/q121/q135/q176.
  */
object Analytics44 {
  import Tables.{centsDecimal, t}

  /** Peel rounds for q181 — 25 = the nation count, enough to reach the
    * exact k-core fixpoint on any graph over this dim (each non-final
    * round removes ≥ 1 node).
    */
  private val KcoreRounds = 25

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_var_cvar" -> ((spark, dir) => {
      val daily = t(spark, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("decimal(38,0)").as("v"))
      // date-grain frame: the global windows below scan a calendar-
      // bounded row count, not the fact table
      val wd = Window.orderBy("day")
      val deltas = daily
        .withColumn("prev", lag(col("v"), 1).over(wd))
        .filter(col("prev").isNotNull)
        .select(col("day"), (col("v") - col("prev"))
          .cast("decimal(38,0)").as("delta"))
      val wr = Window.orderBy(col("delta"), col("day"))
      val ranked = deltas.withColumn("rk", row_number().over(wr))
      val n = ranked.agg(count(lit(1)).as("n_days"),
        ((count(lit(1)) + 19) / lit(20)).cast("long").as("k"))
      ranked.crossJoin(broadcast(n))
        .filter(col("rk") <= col("k"))
        .groupBy(col("n_days"), col("k"))
        .agg(max(col("delta")).cast("long").as("var5_cents"),
          round(sum(col("delta")).cast("double")
            / col("k").cast("double"), 4).as("cvar5_cents"))
        .select(col("n_days"), col("k"), col("var5_cents"),
          col("cvar5_cents"))
    }),

    "q181_kcore" -> ((spark, dir) => {
      val sup = t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val und = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(least(col("s_nationkey"), col("c_nationkey")).as("a"),
          greatest(col("s_nationkey"), col("c_nationkey")).as("b"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(true)
      // exact 75th-percentile weight threshold, rank-selected on the
      // nations²-bounded edge frame
      val wr = Window.orderBy(col("w"), col("a"), col("b"))
      val ranked = und.withColumn("rk", row_number().over(wr))
      val m = ranked.agg((((count(lit(1)) * 3) + 3) / lit(4))
        .cast("long").as("kq"))
      val thr = ranked.crossJoin(broadcast(m))
        .filter(col("rk") === col("kq"))
        .select(col("w").as("thr"))
      // The peel fixpoint runs over the nations²-bounded edge frame
      // (≤ 300 rows at ANY corpus scale) — the same constant-size-collect
      // discipline as q262/q261: only the fact-table condense above is
      // data-sized and it stays distributed; the 25 peel rounds were 25
      // checkpointed Spark jobs of ≤300-row frames, >90% scheduling
      // overhead (c8/c32 ratio 1.15 — scheduler-bound, not compute).
      // Rounds preserved exactly: same deg>=3 peel, same round count.
      var es = und.crossJoin(broadcast(thr))
        .filter(col("w") >= col("thr"))
        .select(col("a").cast("int"), col("b").cast("int"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      for (_ <- 1 to KcoreRounds) {
        val deg = scala.collection.mutable.Map[Int, Long]()
        es.foreach { case (a, b) =>
          deg(a) = deg.getOrElse(a, 0L) + 1
          deg(b) = deg.getOrElse(b, 0L) + 1
        }
        val alive = deg.filter(_._2 >= 3).keySet
        es = es.filter { case (a, b) => alive(a) && alive(b) }
      }
      val core = es.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).toSeq
        .map { case (n, xs) => (n, xs.length.toLong) }
        .sortBy(_._1)
      import spark.implicits._
      core.toDF("node", "core_degree").orderBy("node")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q180_var_cvar" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS v
        |  FROM orders GROUP BY 1),
        |deltas AS (
        |  SELECT day, CAST(v - lag(v) OVER (ORDER BY day)
        |    AS DECIMAL(38,0)) AS delta
        |  FROM daily QUALIFY lag(v) OVER (ORDER BY day) IS NOT NULL),
        |ranked AS MATERIALIZED (
        |  SELECT delta, row_number() OVER (ORDER BY delta, day) AS rk
        |  FROM deltas),
        |nn AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST((count(*) + 19) // 20 AS BIGINT) AS k
        |  FROM ranked)
        |SELECT n_days, k, CAST(max(delta) AS BIGINT) AS var5_cents,
        |  round(CAST(sum(delta) AS DOUBLE) / CAST(k AS DOUBLE), 4)
        |    AS cvar5_cents
        |FROM ranked CROSS JOIN nn WHERE rk <= k
        |GROUP BY n_days, k""".stripMargin,

    "q181_kcore" -> {
      // one peel round: recount degrees, keep only nodes at >= 3.
      // MATERIALIZED is load-bearing: inlined, each round references the
      // previous twice and the base scan re-expands ~4^rounds times.
      val rounds = (1 to KcoreRounds).map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
           |    SELECT a AS node FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1})
           |  GROUP BY 1),
           |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
           |  WHERE a IN (SELECT node FROM d$i WHERE deg >= 3)
           |    AND b IN (SELECT node FROM d$i WHERE deg >= 3))""".stripMargin
      }.mkString(",\n")
      s"""WITH und AS (
         |  SELECT least(s_nationkey, c_nationkey) AS a,
         |    greatest(s_nationkey, c_nationkey) AS b,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE s_nationkey <> c_nationkey
         |  GROUP BY 1, 2),
         |ranked AS MATERIALIZED (
         |  SELECT *, row_number() OVER (ORDER BY w, a, b) AS rk FROM und),
         |thr AS MATERIALIZED (
         |  SELECT w AS thr FROM ranked
         |  WHERE rk = (SELECT (count(*) * 3 + 3) // 4 FROM ranked)),
         |e0 AS MATERIALIZED (
         |  SELECT a, b FROM und CROSS JOIN thr WHERE w >= thr),
         |$rounds
         |SELECT node, CAST(count(*) AS BIGINT) AS core_degree FROM (
         |  SELECT a AS node FROM e$KcoreRounds
         |  UNION ALL SELECT b FROM e$KcoreRounds)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
  )
}
