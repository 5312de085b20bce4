package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 43 (SURVEY.md §2.4):
  *
  *  - q174: lagged cross-correlation between the daily view and
  *    purchase series (lags −2..+2) — "does traffic lead sales?". The
  *    daily frame is date-grain (tiny relative to the event stream),
  *    the lag fan-out is a 5-row broadcast, and every Pearson moment
  *    is an exact integer sum until the final ratio.
  *  - q175: calibration (reliability) bins for "discount predicts
  *    return": per predicted-probability bin the empirical positive
  *    rate, plus the global Brier score — all in integer tenths²
  *    arithmetic until the last division.
  *  - q176: weighted majority label propagation on the top-2-neighbor
  *    sparsified nation trade graph (3 synchronous rounds, ties to the
  *    smaller label) — the community-detection counterpart of
  *    q64/q67/q121. The fact scan condenses to a nations² edge list
  *    FIRST; each round is one bounded groupBy over that list, argmax
  *    by struct-ordered min_by (no packed numeric keys).
  *  - q177: Herfindahl–Hirschman supplier-concentration index per
  *    nation, in HHI points (share² × 10000) — numerator Σr² and
  *    denominator (Σr)² both exact DECIMAL.
  *  - q178: positional event-flow decomposition (sankey edges): for
  *    each (user, day) visit, the step-k → step-k+1 transition counts
  *    for the first four steps. Per-visit window, bounded by a day's
  *    events per user.
  *  - q179: log-log price elasticity of demand. ln() runs only on the
  *    bounded distinct (discount, quantity) grid — never per fact row
  *    — and each log rounds to 6 decimals into DECIMAL(12,6) before
  *    any multiply/sum, so the regression moments accumulate exactly
  *    in both engines (the t11 zipf-slope discipline).
  */
object Analytics43 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q174_cross_correlation" -> ((spark, dir) => {
      val daily = t(spark, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count_if(col("event_type") === "view").as("x"),
          count_if(col("event_type") === "purchase").as("y"))
      val lags = spark.range(-2, 3).select(col("id").cast("int").as("lag"))
      val a = daily.select(col("day").as("a_day"), col("x"))
      val b = daily.select(col("day").as("b_day"), col("y"))
      val pairs = a.crossJoin(broadcast(lags))
        .join(b, expr("date_add(a_day, lag) = b_day"))
      pairs.groupBy("lag").agg(
          count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("lag"), col("n_days"),
          round((col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / sqrt((col("n_days") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n_days") * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("corr"))
        .orderBy("lag")
    }),

    "q175_calibration_bins" -> ((spark, dir) => {
      // predicted P(return) = discount × 10 — tenths ∈ 0..10
      val x = t(spark, dir, "lineitem").select(
        centsDecimal(col("l_discount")).as("tenths"),
        (col("l_returnflag") === "R").cast("int").as("y"))
      val bins = x.groupBy("tenths").agg(
          count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          sum((col("tenths") - lit(10) * col("y"))
            * (col("tenths") - lit(10) * col("y"))).as("se"))
      val brier = bins.agg(
        round((sum(col("se")).cast("double")
          / (lit(100.0) * sum(col("n")).cast("double"))), 6).as("brier"))
      bins.select(col("tenths").cast("long").as("tenths"), col("n"),
          col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 6)
            .as("pos_rate"))
        .crossJoin(broadcast(brier))
        .orderBy("tenths")
    }),

    "q176_label_propagation" -> ((spark, dir) => {
      val sup = t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      // condense the fact join to a nations²-bounded edge list FIRST
      val dir0 = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("a"), col("c_nationkey").as("b"))
        .agg(count(lit(1)).as("w"))
      val sym = dir0.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(dir0.select(col("b").as("src"), col("a").as("dst"),
          col("w")))
        .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      // sparsify to each node's top-2 neighbors: the dense trade graph
      // is near-complete, and majority votes over ALL neighbors collapse
      // every node into one community — the kNN-graph restriction is the
      // standard label-propagation preconditioner. Per-src window over
      // nations²-bounded rows.
      val wTop = Window.partitionBy("src")
        .orderBy(col("w").desc, col("dst"))
      val edges = sym.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 2).drop("rk")
        .localCheckpoint(true)
      val nodes = t(spark, dir, "nation")
        .select(col("n_nationkey").cast("long").as("node"))
      var lab = nodes.withColumn("label", col("node"))
      for (_ <- 1 to 3) {
        val votes = edges
          .join(broadcast(lab), col("dst") === col("node"))
          .groupBy(col("src"), col("label"))
          .agg(sum(col("w")).as("lw"))
        val next = votes.groupBy("src")
          .agg(min_by(col("label"), struct((-col("lw")).as("nw"),
            col("label"))).as("new_label"))
        lab = nodes
          .join(broadcast(next), col("node") === col("src"), "left")
          .select(col("node"),
            coalesce(col("new_label"), col("node")).as("label"))
          .localCheckpoint(true)
      }
      lab.orderBy("node")
    }),

    "q177_hhi" -> ((spark, dir) => {
      val r = t(spark, dir, "lineitem")
        .join(t(spark, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(centsDecimal(col("l_extendedprice"))).cast("decimal(38,0)")
          .as("rev"))
      r.groupBy("s_nationkey").agg(
          count(lit(1)).as("n_suppliers"),
          sum((col("rev") * col("rev")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("num"),
          sum(col("rev")).cast("decimal(38,0)").as("den"))
        .select(col("s_nationkey"), col("n_suppliers"),
          round(lit(10000.0) * col("num").cast("double")
            / (col("den").cast("double") * col("den").cast("double")), 6)
            .as("hhi"))
        .orderBy("s_nationkey")
    }),

    "q178_event_sankey" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      val steps = t(spark, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 4)
        .select(col("user_id"), col("day"), col("rn"), col("event_type"))
      val nxt = steps.select(col("user_id").as("u2"), col("day").as("d2"),
        (col("rn") - 1).as("rn2"), col("event_type").as("to_type"))
      steps.join(nxt, col("user_id") === col("u2")
          && col("day") === col("d2") && col("rn") === col("rn2"))
        .groupBy(col("rn").as("step"), col("event_type").as("from_type"),
          col("to_type"))
        .agg(count(lit(1)).as("n_flows"))
        .orderBy("step", "from_type", "to_type")
    }),

    "q179_price_elasticity" -> ((spark, dir) => {
      // the ln() grid is the bounded distinct (discount, quantity) set
      val g = t(spark, dir, "lineitem")
        .groupBy(centsDecimal(col("l_discount")).as("dc"),
          col("l_quantity").cast("decimal(18,0)").as("q"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("dc") > 0)
      val lg = g.select(col("cnt"),
        round(log(lit(1.0) - col("dc").cast("double") / 100.0), 6)
          .cast("decimal(12,6)").as("rx"),
        round(log(col("q").cast("double")), 6)
          .cast("decimal(12,6)").as("ry"))
      val s = lg.agg(
        sum(col("cnt")).cast("decimal(18,0)").as("n"),
        sum(col("cnt") * col("rx")).cast("decimal(38,6)").as("sx"),
        sum(col("cnt") * col("ry")).cast("decimal(38,6)").as("sy"),
        sum((col("cnt") * col("rx") * col("rx")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("sxx"),
        sum((col("cnt") * col("rx") * col("ry")).cast("decimal(38,12)"))
          .cast("decimal(38,12)").as("sxy"))
      s.select(col("n").cast("long").as("n_rows"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          4).as("elasticity"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q174_cross_correlation" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS x,
        |    CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |pairs AS (
        |  SELECT l.lag, a.x, b.y
        |  FROM daily a
        |  CROSS JOIN (VALUES (-2), (-1), (0), (1), (2)) AS l(lag)
        |  JOIN daily b ON a.day + l.lag = b.day),
        |m AS (
        |  SELECT lag, CAST(count(*) AS BIGINT) AS n_days,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
        |    sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM pairs GROUP BY 1)
        |SELECT lag, n_days,
        |  round(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
        |      * CAST(n_days * syy - sy * sy AS DOUBLE)), 6) AS corr
        |FROM m ORDER BY lag""".stripMargin,

    "q175_calibration_bins" ->
      """WITH x AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |    AS DECIMAL(18,0)) AS tenths,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |bins AS (
        |  SELECT tenths, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    sum((tenths - 10*y) * (tenths - 10*y)) AS se
        |  FROM x GROUP BY 1),
        |brier AS (
        |  SELECT round(CAST(sum(se) AS DOUBLE)
        |    / (100.0 * CAST(sum(n) AS DOUBLE)), 6) AS brier FROM bins)
        |SELECT CAST(tenths AS BIGINT) AS tenths, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
        |  brier
        |FROM bins CROSS JOIN brier
        |ORDER BY tenths""".stripMargin,

    "q176_label_propagation" ->
      """WITH dir0 AS (
        |  SELECT s_nationkey AS a, c_nationkey AS b,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY 1, 2),
        |edges0 AS (
        |  SELECT src, dst, sum(w) AS w FROM (
        |    SELECT a AS src, b AS dst, w FROM dir0
        |    UNION ALL SELECT b AS src, a AS dst, w FROM dir0)
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT src, dst, w FROM (
        |    SELECT src, dst, w, row_number() OVER (PARTITION BY src
        |      ORDER BY w DESC, dst ASC) AS rk FROM edges0)
        |  WHERE rk <= 2),
        |nodes AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
        |l0 AS (SELECT node, node AS label FROM nodes),
        |v1 AS (
        |  SELECT src, label, sum(w) AS lw,
        |    row_number() OVER (PARTITION BY src
        |      ORDER BY sum(w) DESC, label ASC) AS rk
        |  FROM edges JOIN l0 ON dst = node GROUP BY 1, 2),
        |l1 AS (
        |  SELECT node, coalesce(v1.label, node) AS label
        |  FROM nodes LEFT JOIN v1 ON node = src AND rk = 1),
        |v2 AS (
        |  SELECT src, label, sum(w) AS lw,
        |    row_number() OVER (PARTITION BY src
        |      ORDER BY sum(w) DESC, label ASC) AS rk
        |  FROM edges JOIN l1 ON dst = node GROUP BY 1, 2),
        |l2 AS (
        |  SELECT node, coalesce(v2.label, node) AS label
        |  FROM nodes LEFT JOIN v2 ON node = src AND rk = 1),
        |v3 AS (
        |  SELECT src, label, sum(w) AS lw,
        |    row_number() OVER (PARTITION BY src
        |      ORDER BY sum(w) DESC, label ASC) AS rk
        |  FROM edges JOIN l2 ON dst = node GROUP BY 1, 2),
        |l3 AS (
        |  SELECT node, coalesce(v3.label, node) AS label
        |  FROM nodes LEFT JOIN v3 ON node = src AND rk = 1)
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin,

    "q177_hhi" ->
      """WITH r AS (
        |  SELECT s_nationkey, s_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_suppliers,
        |  round(10000.0 * CAST(sum(CAST(rev * rev AS DECIMAL(38,0)))
        |      AS DOUBLE)
        |    / (CAST(sum(rev) AS DOUBLE) * CAST(sum(rev) AS DOUBLE)), 6)
        |    AS hhi
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q178_event_sankey" ->
      """WITH steps AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |s4 AS (SELECT * FROM steps WHERE rn <= 4)
        |SELECT a.rn AS step, a.event_type AS from_type,
        |  b.event_type AS to_type, CAST(count(*) AS BIGINT) AS n_flows
        |FROM s4 a JOIN s4 b ON a.user_id = b.user_id AND a.day = b.day
        |  AND b.rn = a.rn + 1
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    "q179_price_elasticity" ->
      """WITH g AS (
        |  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS dc,
        |    CAST(l_quantity AS DECIMAL(18,0)) AS q,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |lg AS (
        |  SELECT cnt,
        |    CAST(round(ln(1.0 - CAST(dc AS DOUBLE) / 100.0), 6)
        |      AS DECIMAL(12,6)) AS rx,
        |    CAST(round(ln(CAST(q AS DOUBLE)), 6) AS DECIMAL(12,6)) AS ry
        |  FROM g WHERE dc > 0),
        |s AS (
        |  SELECT CAST(sum(cnt) AS DECIMAL(18,0)) AS n,
        |    CAST(sum(cnt * rx) AS DECIMAL(38,6)) AS sx,
        |    CAST(sum(cnt * ry) AS DECIMAL(38,6)) AS sy,
        |    CAST(sum(CAST(cnt * rx * rx AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS sxx,
        |    CAST(sum(CAST(cnt * rx * ry AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS sxy
        |  FROM lg)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS elasticity
        |FROM s""".stripMargin,
  )
}
