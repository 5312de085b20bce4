package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 5 (SURVEY.md §2.4):
  *
  *  - q108: point-in-time (temporal) dimension lookup — the consumption
  *    side of q87's SCD2 build: each probe (key, as-of time) joins to
  *    the ONE dimension version whose validity interval covers it, with
  *    delete-closed gaps correctly yielding no match. The plan is an
  *    equi-join on the key with the interval bounds as a residual
  *    condition — at scale the shuffle keys on `k` alone and the ≤3
  *    versions per key evaluate as a residual filter, never a range
  *    explosion. Intervals are disjoint by construction, so the join is
  *    1:≤1 (no fanout).
  *  - q109: single-source weighted shortest paths (Bellman-Ford
  *    relaxation to a fixpoint) over the corridor-sparsified nation
  *    trade graph, with deterministic integer edge weights — the
  *    weighted complement of q81's hop distances. A node with no path
  *    from the source gets a null distance; the node domain is the edge
  *    endpoints ∪ {source}. Exact integer arithmetic; the
  *    DuckDB oracle replays |V|−1 = 24 unrolled relaxation rounds
  *    (generated CTE chain), which provably reaches the same unique
  *    fixpoint the iterative side converges to.
  *  - q110: MAD robust outlier detection — per-group median absolute
  *    deviation with a 4.4478·MAD (≈3σ) threshold; exact medians over
  *    integer-valued quantities, so the whole chain replays bit-for-bit.
  *  - q111: rolling 7-day distinct users (DAU/WAU) through mergeable
  *    id/64 bitmaps — q96's bitmap trick inside a bounded RANGE window:
  *    a COUNT(DISTINCT) over a sliding frame is not decomposable, but
  *    bit_or of per-(bucket, day) bitmaps is, so the window state is 64
  *    ids per long instead of a per-frame distinct sort. Dense
  *    (bucket × day) grid via the q45 spine recipe so silent days still
  *    carry their trailing window.
  *  - q112: delete-one-fold jackknife CI for the mean — 10 deterministic
  *    md5 folds, leave-one-out means from exact DECIMAL partial sums,
  *    variance terms rounded→DECIMAL before the order-free sum (the
  *    cross-engine float-merge recipe), normal 95% interval.
  *  - q113: Theil–Sen robust trend — median of all pairwise slopes over
  *    the per-month aggregate frame (one outlier month can't tilt the
  *    fit, unlike q102's least squares). The pair join runs on the
  *    SF-independent monthly frame (~84 rows per group), never on raw
  *    rows; medians are exact so the whole chain replays.
  */
object Analytics9 {
  import Tables.t

  /** Corridor trade-graph edges with a deterministic symmetric integer
    * weight (shared by the q109 query and its oracle text).
    */
  private val EdgeWeightSql = "1 + (a * 7 + b * 3) % 5"
  private val BfIters = 24 // |V|−1 for the 25-nation graph
  // mid-corridor source: connected at every SF (node 0 has no corridor
  // edges at sf0.001), while the far component stays honestly NULL
  private val BfSource = 12L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_temporal_join" -> ((spark, dir) => {
      val versions = Analytics6.scd2Versions(spark, dir)
      val probes = versions.select(col("k")).distinct()
        .withColumn("t", col("k") % 4)
      probes.alias("p").join(versions.alias("v"),
          col("p.k") === col("v.k") &&
            col("v.valid_from") <= col("p.t") &&
            (col("v.valid_to").isNull || col("p.t") < col("v.valid_to")),
          "left")
        .select(col("p.k").as("k"), col("p.t").as("t"),
          col("v.status").as("status"), col("v.price").as("price"),
          col("v.status").isNotNull.as("matched"))
        .orderBy("k")
    }),

    // MAD robust outliers: median absolute deviation per group — the
    // robust complement of q99's mean/σ z-scores (one wild day can't
    // inflate its own threshold). l_quantity is integer-valued, so both
    // medians (and every |x−med| deviation) are exact in double and the
    // 4.4478·MAD (≈3σ) threshold compare replays bit-for-bit. Two
    // bounded aggregations + two 3-row broadcast joins — no windows.
    "q110_mad_outliers" -> ((spark, dir) => {
      val li = t(spark, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("double").as("q"))
      val med = li.groupBy("l_returnflag").agg(median(col("q")).as("med"))
      val dev = li.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("q") - col("med")))
      val mad = dev.groupBy("l_returnflag")
        .agg(median(col("adev")).as("mad"), min(col("med")).as("med"),
          count(lit(1)).as("n"))
      dev.join(broadcast(mad.select(col("l_returnflag"),
          col("mad").as("mad_v"))), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count_if(col("adev") > col("mad_v") * lit(4.4478))
          .as("n_outliers"))
        .join(mad, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("med"), col("mad"),
          col("n_outliers"),
          round(col("n_outliers").cast("double") / col("n"), 6)
            .as("outlier_frac"))
        .orderBy("l_returnflag")
    }),

    "q111_rolling_distinct" -> ((spark, dir) => {
      val daily = t(spark, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"), expr("user_id div 64").as("bucket"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), " +
          "CAST(user_id % 64 AS INT)))").as("bm"))
      // dense (bucket × day) grid: a bucket silent on day d still owes
      // day d its trailing-6-day members (the q45 spine recipe)
      val days = daily.select("day").distinct()
      val buckets = daily.select("bucket").distinct()
      val grid = days.join(broadcast(buckets))
      val filled = grid.join(daily, Seq("day", "bucket"), "left")
        .select(col("day"), col("bucket"),
          coalesce(col("bm"), lit(0L)).as("bm"),
          datediff(col("day"), lit(java.sql.Date.valueOf("1992-01-01")))
            .as("dn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("dn").rangeBetween(-6, 0)
      filled
        .withColumn("rbm", expr("bit_or(bm)").over(w))
        .groupBy("day")
        .agg(sum(bit_count(col("bm"))).as("users_1d"),
          sum(bit_count(col("rbm"))).as("users_7d"))
        .select(col("day"), col("users_1d"), col("users_7d"),
          round(col("users_1d").cast("double") / col("users_7d"), 6)
            .as("dau_wau"))
        .orderBy("day")
    }),

    "q112_jackknife_ci" -> ((spark, dir) => {
      val F = 10
      val o = t(spark, dir, "orders")
        .select(graft.functions.Md5Pack(col("o_orderkey").cast("string"))
          .mod(F).as("fold"),
          col("o_totalprice").cast("decimal(18,2)").as("p"))
      val folds = o.groupBy("fold")
        .agg(sum("p").as("s_f"), count(lit(1)).as("n_f"))
      val tot = o.agg(sum("p").as("s"), count(lit(1)).as("n"))
      // leave-one-out means from exact decimal partials; each float
      // value is rounded→DECIMAL before any re-aggregation so the
      // 10-row sums stay order-free in both engines
      val loo = folds.crossJoin(broadcast(tot))
        .select(col("fold"), col("s"), col("n"),
          ((col("s") - col("s_f")).cast("double") /
            (col("n") - col("n_f")).cast("double")).as("m_f"))
        .withColumn("m_f_d", round(col("m_f"), 8).cast("decimal(20,8)"))
      val mbar = loo.agg(sum("m_f_d").as("sm"), count(lit(1)).as("nf"),
        min("s").as("s"), min("n").as("n"))
        .select(col("s"), col("n"), col("nf"),
          (col("sm").cast("double") / col("nf").cast("double")).as("mbar"))
      loo.crossJoin(broadcast(mbar.select(col("mbar"), col("nf"))))
        .select(col("fold"), col("s"), col("n"), col("nf"), col("mbar"),
          round((col("m_f_d").cast("double") - col("mbar")) *
            (col("m_f_d").cast("double") - col("mbar")), 12)
            .cast("decimal(28,12)").as("term"))
        .groupBy("s", "n", "nf", "mbar")
        .agg(sum("term").as("ssq"))
        .select(col("n"),
          round(col("s").cast("double") / col("n").cast("double"), 6)
            .as("mean"),
          round(sqrt(col("ssq").cast("double") *
            ((col("nf") - 1).cast("double") / col("nf").cast("double"))), 6)
            .as("jk_se"))
        .select(col("n"), col("mean"), col("jk_se"),
          round(col("mean") - lit(1.96) * col("jk_se"), 6).as("ci_lo"),
          round(col("mean") + lit(1.96) * col("jk_se"), 6).as("ci_hi"))
    }),

    "q113_theil_sen" -> ((spark, dir) => {
      val mon = t(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          ((year(to_date(col("l_shipdate"))) - 1992) * 12 +
            month(to_date(col("l_shipdate"))) - 1).cast("long").as("mx"),
          col("l_quantity").cast("decimal(18,2)").as("qd"))
        .groupBy("l_returnflag", "mx")
        .agg(sum("qd").as("yd"))
        .select(col("l_returnflag"), col("mx"),
          col("yd").cast("double").as("y"))
      val a = mon.select(col("l_returnflag"), col("mx").as("x1"),
        col("y").as("y1"))
      val b = mon.select(col("l_returnflag").as("f2"), col("mx").as("x2"),
        col("y").as("y2"))
      val slopes = a.join(b, col("l_returnflag") === col("f2") &&
          col("x1") < col("x2"))
        .select(col("l_returnflag"),
          ((col("y2") - col("y1")) / (col("x2") - col("x1")).cast("double"))
            .as("slope"))
      val medSlope = slopes.groupBy("l_returnflag")
        .agg(median(col("slope")).as("med_slope"))
      mon.join(broadcast(medSlope), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_months"),
          min("med_slope").as("med_slope"),
          median(col("y") - col("med_slope") * col("mx").cast("double"))
            .as("intercept"))
        .select(col("l_returnflag"), col("n_months"),
          round(col("med_slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
        .orderBy("l_returnflag")
    }),

    "q109_weighted_paths" -> ((spark, dir) => {
      val raw = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(spark, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey") &&
          abs(col("s_nationkey") - col("c_nationkey")) <= 2)
        .select(least(col("s_nationkey"), col("c_nationkey")).as("a"),
          greatest(col("s_nationkey"), col("c_nationkey")).as("b"))
        .distinct()
        // symmetric deterministic weight from the canonical endpoint pair
        .withColumn("w", expr(EdgeWeightSql))
      // The Bellman-Ford fixpoint runs over the nations²-bounded edge
      // frame (≤ 25 nodes at ANY corpus scale) — the q262/q181
      // constant-size-collect discipline: the data-sized fact-table
      // condense above stays distributed; the relaxation loop was ~10
      // checkpointed Spark rounds of ≤50-row frames (pure scheduling).
      // Same unique fixpoint (shortest distances); null = unreachable;
      // node domain = edge endpoints ∪ {source}.
      val ew = raw
        .select(col("a").cast("long"), col("b").cast("long"),
          col("w").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val edges = ew ++ ew.map { case (a, b, w) => (b, a, w) }
      val nodes =
        (edges.map(_._1) ++ edges.map(_._2) :+ BfSource).distinct.sorted
      val best = scala.collection.mutable.Map(BfSource -> 0L)
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (s, d, w) =>
          best.get(s).foreach { ds =>
            val nd = ds + w
            if (best.get(d).forall(_ > nd)) { best(d) = nd; changed = true }
          }
        }
      }
      import spark.implicits._
      val dist = nodes.map(n => (n, best.get(n))).toSeq
        .toDF("node", "dist")
      t(spark, dir, "nation")
        .join(broadcast(dist), col("n_nationkey") === col("node"), "left")
        .select(col("n_name"), col("dist").as("cost"))
        .orderBy("n_name")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q108_temporal_join" ->
      s"""WITH ${Analytics6.Scd2VersionsSql},
         |probes AS (
         |  SELECT DISTINCT k, k % 4 AS t FROM versions)
         |SELECT p.k, CAST(p.t AS BIGINT) AS t, v.status, v.price,
         |  v.status IS NOT NULL AS matched
         |FROM probes p LEFT JOIN versions v
         |  ON p.k = v.k AND v.valid_from <= p.t
         |  AND (v.valid_to IS NULL OR p.t < v.valid_to)
         |ORDER BY p.k""".stripMargin,

    "q110_mad_outliers" ->
      """WITH li AS (
        |  SELECT l_returnflag AS f, CAST(l_quantity AS DOUBLE) AS q
        |  FROM lineitem),
        |med AS (SELECT f, median(q) AS med FROM li GROUP BY f),
        |dev AS (
        |  SELECT li.f, q, med, abs(q - med) AS adev
        |  FROM li JOIN med USING (f)),
        |mad AS (
        |  SELECT f, median(adev) AS mad, min(med) AS med,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM dev GROUP BY f),
        |outl AS (
        |  SELECT dev.f, CAST(count(*) FILTER (
        |      WHERE adev > mad * CAST(4.4478 AS DOUBLE)) AS BIGINT)
        |    AS n_outliers
        |  FROM dev JOIN mad ON dev.f = mad.f GROUP BY dev.f)
        |SELECT mad.f AS l_returnflag, n, med, mad, n_outliers,
        |  round(CAST(n_outliers AS DOUBLE) / n, 6) AS outlier_frac
        |FROM mad JOIN outl ON mad.f = outl.f
        |ORDER BY l_returnflag""".stripMargin,

    "q111_rolling_distinct" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id // 64 AS bucket,
        |    bit_or(CASE WHEN user_id % 64 = 63
        |      THEN CAST(-9223372036854775808 AS BIGINT)
        |      ELSE CAST(1 AS BIGINT) << CAST(user_id % 64 AS INTEGER) END)
        |      AS bm
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.day, b.bucket
        |  FROM (SELECT DISTINCT day FROM daily) d
        |  CROSS JOIN (SELECT DISTINCT bucket FROM daily) b),
        |filled AS (
        |  SELECT g.day, g.bucket, coalesce(bm, 0) AS bm,
        |    g.day - DATE '1992-01-01' AS dn
        |  FROM grid g LEFT JOIN daily USING (day, bucket)),
        |rolled AS (
        |  SELECT day, bm,
        |    bit_or(bm) OVER (PARTITION BY bucket ORDER BY dn
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rbm
        |  FROM filled)
        |SELECT day, CAST(sum(bit_count(bm)) AS BIGINT) AS users_1d,
        |  CAST(sum(bit_count(rbm)) AS BIGINT) AS users_7d,
        |  round(CAST(sum(bit_count(bm)) AS DOUBLE)
        |    / sum(bit_count(rbm)), 6) AS dau_wau
        |FROM rolled GROUP BY day ORDER BY day""".stripMargin,

    "q112_jackknife_ci" -> {
      val fold = Tables.duckMd5Pack("CAST(o_orderkey AS VARCHAR)")
      s"""WITH o AS (
         |  SELECT ($fold) % 10 AS fold,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
         |  FROM orders),
         |folds AS (
         |  SELECT fold, CAST(sum(p) AS DECIMAL(38,2)) AS s_f,
         |    CAST(count(*) AS BIGINT) AS n_f
         |  FROM o GROUP BY fold),
         |tot AS (
         |  SELECT CAST(sum(p) AS DECIMAL(38,2)) AS s,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM o),
         |loo AS (
         |  SELECT fold, s, n,
         |    CAST(round(CAST(s - s_f AS DOUBLE) / CAST(n - n_f AS DOUBLE),
         |      8) AS DECIMAL(20,8)) AS m_f_d
         |  FROM folds CROSS JOIN tot),
         |mb AS (
         |  SELECT min(s) AS s, min(n) AS n,
         |    CAST(count(*) AS BIGINT) AS nf,
         |    CAST(sum(m_f_d) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mbar
         |  FROM loo),
         |terms AS (
         |  SELECT mb.s, mb.n, mb.nf, mb.mbar,
         |    CAST(round((CAST(m_f_d AS DOUBLE) - mbar)
         |      * (CAST(m_f_d AS DOUBLE) - mbar), 12) AS DECIMAL(28,12))
         |      AS term
         |  FROM loo CROSS JOIN mb),
         |agged AS (
         |  SELECT s, n, nf, mbar, sum(term) AS ssq
         |  FROM terms GROUP BY s, n, nf, mbar),
         |se AS (
         |  SELECT n, round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
         |      AS mean,
         |    round(sqrt(CAST(ssq AS DOUBLE)
         |      * (CAST(nf - 1 AS DOUBLE) / CAST(nf AS DOUBLE))), 6)
         |      AS jk_se
         |  FROM agged)
         |SELECT n, mean, jk_se,
         |  round(mean - CAST(1.96 AS DOUBLE) * jk_se, 6) AS ci_lo,
         |  round(mean + CAST(1.96 AS DOUBLE) * jk_se, 6) AS ci_hi
         |FROM se""".stripMargin
    },

    "q113_theil_sen" ->
      """WITH mon AS (
        |  SELECT l_returnflag AS f,
        |    CAST((year(CAST(l_shipdate AS DATE)) - 1992) * 12
        |      + month(CAST(l_shipdate AS DATE)) - 1 AS BIGINT) AS mx,
        |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |      AS DECIMAL(38,2)) AS DOUBLE) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.f, (b.y - a.y) / CAST(b.mx - a.mx AS DOUBLE) AS slope
        |  FROM mon a JOIN mon b ON a.f = b.f AND a.mx < b.mx),
        |ms AS (SELECT f, median(slope) AS med_slope FROM slopes GROUP BY f)
        |SELECT mon.f AS l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_months,
        |  round(min(med_slope), 6) AS slope,
        |  round(median(y - med_slope * CAST(mx AS DOUBLE)), 6) AS intercept
        |FROM mon JOIN ms ON mon.f = ms.f
        |GROUP BY mon.f
        |ORDER BY l_returnflag""".stripMargin,

    "q109_weighted_paths" -> {
      // |V|−1 unrolled Bellman-Ford rounds: d_i(n) = min(d_{i-1}(n),
      // min over in-edges of d_{i-1}(pred) + w) — reaches the unique
      // fixpoint the iterative Spark side converges to.
      // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
      // each round references the previous one twice — unmaterialized,
      // the expansion (and the base-table scan count) grows 2^rounds.
      val rounds = (1 to BfIters).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT p.node,
           |    CASE WHEN o.od IS NULL THEN p.d
           |         WHEN p.d IS NULL THEN o.od
           |         ELSE least(p.d, o.od) END AS d
           |  FROM d${i - 1} p LEFT JOIN (
           |    SELECT e.dst AS node, min(p2.d + e.w) AS od
           |    FROM d${i - 1} p2 JOIN edges e ON p2.node = e.src
           |    WHERE p2.d IS NOT NULL GROUP BY e.dst) o
           |  ON p.node = o.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS MATERIALIZED (
         |  SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
         |    greatest(s_nationkey, c_nationkey) AS b
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE s_nationkey <> c_nationkey
         |    AND abs(s_nationkey - c_nationkey) <= 2),
         |edges AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, $EdgeWeightSql AS w FROM raw
         |  UNION ALL SELECT b, a, $EdgeWeightSql FROM raw),
         |nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |  UNION SELECT dst FROM edges
         |  UNION SELECT $BfSource),
         |d0 AS MATERIALIZED (
         |  SELECT node, CASE WHEN node = $BfSource THEN CAST(0 AS BIGINT)
         |    ELSE CAST(NULL AS BIGINT) END AS d FROM nodes),
         |$rounds
         |SELECT n_name, d$BfIters.d AS cost
         |FROM nation LEFT JOIN d$BfIters ON n_nationkey = node
         |ORDER BY n_name""".stripMargin
    },
  )
}
