package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 42 (SURVEY.md §2.4) — six families the
  * inventory still lacked:
  *
  *  - q168: per-brand Pareto frontier (skyline) of parts — minimize
  *    retail price, maximize size. The classic skyline needs an
  *    all-pairs dominance test; sorting each brand by (price asc,
  *    size desc) reduces it to ONE linear window scan: a distinct
  *    (price, size) point is dominated iff the max size over its
  *    sort-predecessors reaches its own (predecessors are exactly the
  *    strictly-cheaper points plus the same-price larger-size points —
  *    either way a dominator). The oracle states the textbook NOT
  *    EXISTS instead, so the two engines derive the frontier from
  *    independent formulations.
  *  - q169: reorder-point inventory policy (demand mean + 1.645σ over
  *    monthly supplier demand). Variance comes from exact DECIMAL
  *    Σd/Σd² — n·Σd² − (Σd)² stays integer arithmetic in both engines,
  *    floats enter only in the final sqrt.
  *  - q170: two-predictor OLS (extendedprice ~ quantity + discount) by
  *    closed-form normal equations. All nine moment sums accumulate in
  *    exact DECIMAL cents; the n-scaled centered forms (n·Σxy − ΣxΣy)
  *    are exact too, so both engines hit the identical 2×2 Cramer
  *    solve in double only at the very end. One map-side-combinable
  *    aggregate — no shuffle beyond the single global agg.
  *  - q171: max drawdown of per-nation monthly revenue — running-peak
  *    window minus current level, then the earliest trough month per
  *    nation. The window partitions by nation (bounded groups, linear
  *    scan), never globally.
  *  - q172: l-diversity privacy audit over the (nation, market
  *    segment) quasi-identifier: groups whose order-priority diversity
  *    falls below l=3 would leak their members' sensitive attribute.
  *    Companion to q105's k-anonymity.
  *  - q173: DAU growth accounting (new / retained / resurrected /
  *    churned) — the product-analytics ledger behind q161's
  *    stickiness. One distinct user-day frame, per-user lag/lead
  *    windows (bounded by a user's active days), churn attributed to
  *    the day after the activity gap opens.
  */
object Analytics42 {
  import Tables.{centsDecimal, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_skyline" -> ((spark, dir) => {
      val g = t(spark, dir, "part")
        .select(col("p_brand"), centsDecimal(col("p_retailprice")).as("price_cents"),
          col("p_size"))
        .groupBy("p_brand", "price_cents", "p_size")
        .agg(count(lit(1)).as("n_parts"))
      // Sort-predecessor max: dominated ⟺ some earlier point in
      // (price asc, size desc) order has size ≥ mine. Equal (price,
      // size) duplicates collapsed by the groupBy above, so a
      // predecessor always beats me strictly in one dimension.
      val w = Window.partitionBy("p_brand")
        .orderBy(col("price_cents").asc, col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      g.withColumn("max_prev", max(col("p_size")).over(w))
        .filter(col("max_prev").isNull || col("max_prev") < col("p_size"))
        .select(col("p_brand"), col("price_cents").cast("long")
            .as("price_cents"), col("p_size"),
          col("n_parts"))
        .orderBy("p_brand", "price_cents")
    }),

    "q169_reorder_point" -> ((spark, dir) => {
      val m = t(spark, dir, "lineitem")
        .select(col("l_suppkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
            .cast("long").as("mx"),
          col("l_quantity").cast("decimal(18,0)").as("q"))
        .groupBy("l_suppkey", "mx")
        .agg(sum(col("q")).cast("decimal(38,0)").as("d"))
      val agg = m.groupBy("l_suppkey").agg(
        count(lit(1)).as("n_months"),
        sum(col("d")).cast("decimal(38,0)").as("sd"),
        sum((col("d") * col("d")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sd2"))
      // sample variance from exact sums: (n·Σd² − (Σd)²) / (n(n−1))
      agg.filter(col("n_months") > 1)
        .select(col("l_suppkey"), col("n_months"),
          round(col("sd").cast("double") / col("n_months").cast("double"), 6)
            .as("mean_demand"),
          round(col("sd").cast("double") / col("n_months").cast("double")
              + lit(1.645) * sqrt(
            (col("n_months").cast("decimal(18,0)") * col("sd2")
              - col("sd") * col("sd")).cast("double")
              / (col("n_months") * (col("n_months") - 1)).cast("double")),
            4).as("reorder_point"))
        .orderBy("l_suppkey")
    }),

    "q170_ols_two_var" -> ((spark, dir) => {
      val x = t(spark, dir, "lineitem").select(
        col("l_quantity").cast("decimal(18,0)").as("x1"),
        centsDecimal(col("l_discount")).as("x2"),
        centsDecimal(col("l_extendedprice")).as("y"))
      val s = x.agg(
        count(lit(1)).cast("decimal(18,0)").as("n"),
        sum(col("x1")).cast("decimal(38,0)").as("s1"),
        sum(col("x2")).cast("decimal(38,0)").as("s2"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum((col("x1") * col("x1")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("s11"),
        sum((col("x2") * col("x2")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("s22"),
        sum((col("x1") * col("x2")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("s12"),
        sum((col("x1") * col("y")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("s1y"),
        sum((col("x2") * col("y")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("s2y"))
      // n-scaled centered moments stay exact DECIMAL; the 2×2 solve is
      // the only float arithmetic, identically associated in DuckDB.
      val c = s.select(col("n"),
        (col("n") * col("s11") - col("s1") * col("s1"))
          .cast("double").as("a11"),
        (col("n") * col("s12") - col("s1") * col("s2"))
          .cast("double").as("a12"),
        (col("n") * col("s22") - col("s2") * col("s2"))
          .cast("double").as("a22"),
        (col("n") * col("s1y") - col("s1") * col("sy"))
          .cast("double").as("b1"),
        (col("n") * col("s2y") - col("s2") * col("sy"))
          .cast("double").as("b2"),
        col("s1").cast("double").as("d1"), col("s2").cast("double").as("d2"),
        col("sy").cast("double").as("dy"))
      c.select(col("n").cast("long").as("n_rows"),
          round((col("a22") * col("b1") - col("a12") * col("b2"))
            / (col("a11") * col("a22") - col("a12") * col("a12")), 6)
            .as("beta_qty"),
          round((col("a11") * col("b2") - col("a12") * col("b1"))
            / (col("a11") * col("a22") - col("a12") * col("a12")), 6)
            .as("beta_disc"),
          col("d1"), col("d2"), col("dy"))
        .select(col("n_rows"), col("beta_qty"), col("beta_disc"),
          round((col("dy") - col("beta_qty") * col("d1")
            - col("beta_disc") * col("d2"))
            / col("n_rows").cast("double"), 4).as("intercept"))
    }),

    "q171_max_drawdown" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val monthly = t(spark, dir, "orders")
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .cast("long").as("mx"))
        .agg(sum(centsDecimal(col("o_totalprice"))).cast("decimal(38,0)").as("v"))
      val w = Window.partitionBy("c_nationkey").orderBy("mx")
        .rowsBetween(Window.unboundedPreceding, 0)
      val dd = monthly
        .withColumn("peak", max(col("v")).over(w))
        .withColumn("dd", (col("peak") - col("v")).cast("decimal(38,0)"))
      val mxdd = dd.groupBy("c_nationkey")
        .agg(max(col("dd")).as("max_dd_cents"))
      dd.join(mxdd, "c_nationkey")
        .filter(col("dd") === col("max_dd_cents"))
        .groupBy("c_nationkey")
        .agg(min(col("mx")).as("trough_mx"),
          max(col("max_dd_cents")).as("max_dd_cents"))
        .select(col("c_nationkey"),
          col("max_dd_cents").cast("long").as("max_dd_cents"),
          col("trough_mx"))
        .orderBy("c_nationkey")
    }),

    "q172_l_diversity" -> ((spark, dir) => {
      val c = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      t(spark, dir, "orders")
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(countDistinct(col("o_orderpriority")).as("l_div"),
          countDistinct(col("c_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))
        .withColumn("risky", col("l_div") < 3)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    "q173_growth_accounting" -> ((spark, dir) => {
      val act = t(spark, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      val x = act
        .withColumn("prev", lag(col("day"), 1).over(w))
        .withColumn("next", lead(col("day"), 1).over(w))
      val status = x.groupBy("day").agg(
        count(lit(1)).as("dau"),
        count_if(col("prev").isNull).as("n_new"),
        count_if(col("prev") === date_sub(col("day"), 1)).as("n_retained"),
        count_if(col("prev").isNotNull &&
          col("prev") < date_sub(col("day"), 1)).as("n_resurrected"))
      // a user churns on day+1 when their activity gap opens there
      val churn = x
        .filter(col("next").isNull || col("next") > date_add(col("day"), 1))
        .groupBy(date_add(col("day"), 1).as("day"))
        .agg(count(lit(1)).as("n_churned"))
      status.join(churn, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"),
          coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("day")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q168_skyline" ->
      """WITH g AS (
        |  SELECT p_brand,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS price_cents,
        |    p_size, CAST(count(*) AS BIGINT) AS n_parts
        |  FROM part GROUP BY 1, 2, 3)
        |SELECT p_brand, CAST(price_cents AS BIGINT) AS price_cents,
        |  p_size, n_parts
        |FROM g a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM g b
        |  WHERE b.p_brand = a.p_brand
        |    AND b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
        |ORDER BY p_brand, price_cents""".stripMargin,

    "q169_reorder_point" ->
      """WITH m AS (
        |  SELECT l_suppkey,
        |    CAST(EXTRACT(year FROM l_shipdate) * 12
        |      + EXTRACT(month FROM l_shipdate) AS BIGINT) AS mx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,0)))
        |      AS DECIMAL(38,0)) AS d
        |  FROM lineitem GROUP BY 1, 2),
        |a AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_months,
        |    CAST(sum(d) AS DECIMAL(38,0)) AS sd,
        |    CAST(sum(CAST(d * d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd2
        |  FROM m GROUP BY 1)
        |SELECT l_suppkey, n_months,
        |  round(CAST(sd AS DOUBLE) / CAST(n_months AS DOUBLE), 6)
        |    AS mean_demand,
        |  round(CAST(sd AS DOUBLE) / CAST(n_months AS DOUBLE)
        |    + 1.645 * sqrt(
        |      CAST(CAST(n_months AS DECIMAL(18,0)) * sd2 - sd * sd
        |        AS DOUBLE)
        |      / CAST(n_months * (n_months - 1) AS DOUBLE)), 4)
        |    AS reorder_point
        |FROM a WHERE n_months > 1
        |ORDER BY l_suppkey""".stripMargin,

    "q170_ols_two_var" ->
      """WITH x AS (
        |  SELECT CAST(l_quantity AS DECIMAL(18,0)) AS x1,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS x2,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0)) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT CAST(count(*) AS DECIMAL(18,0)) AS n,
        |    CAST(sum(x1) AS DECIMAL(38,0)) AS s1,
        |    CAST(sum(x2) AS DECIMAL(38,0)) AS s2,
        |    CAST(sum(y) AS DECIMAL(38,0)) AS sy,
        |    CAST(sum(CAST(x1 * x1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s11,
        |    CAST(sum(CAST(x2 * x2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s22,
        |    CAST(sum(CAST(x1 * x2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s12,
        |    CAST(sum(CAST(x1 * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1y,
        |    CAST(sum(CAST(x2 * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2y
        |  FROM x),
        |c AS (
        |  SELECT n,
        |    CAST(n * s11 - s1 * s1 AS DOUBLE) AS a11,
        |    CAST(n * s12 - s1 * s2 AS DOUBLE) AS a12,
        |    CAST(n * s22 - s2 * s2 AS DOUBLE) AS a22,
        |    CAST(n * s1y - s1 * sy AS DOUBLE) AS b1,
        |    CAST(n * s2y - s2 * sy AS DOUBLE) AS b2,
        |    CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
        |    CAST(sy AS DOUBLE) AS dy
        |  FROM s),
        |b AS (
        |  SELECT CAST(n AS BIGINT) AS n_rows,
        |    round((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 6)
        |      AS beta_qty,
        |    round((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 6)
        |      AS beta_disc,
        |    d1, d2, dy
        |  FROM c)
        |SELECT n_rows, beta_qty, beta_disc,
        |  round((dy - beta_qty * d1 - beta_disc * d2)
        |    / CAST(n_rows AS DOUBLE), 4) AS intercept
        |FROM b""".stripMargin,

    "q171_max_drawdown" ->
      """WITH monthly AS (
        |  SELECT c_nationkey,
        |    CAST(EXTRACT(year FROM o_orderdate) * 12
        |      + EXTRACT(month FROM o_orderdate) AS BIGINT) AS mx,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS v
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |dd AS (
        |  SELECT c_nationkey, mx,
        |    CAST(max(v) OVER (PARTITION BY c_nationkey ORDER BY mx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - v
        |      AS DECIMAL(38,0)) AS dd
        |  FROM monthly),
        |mxdd AS (
        |  SELECT c_nationkey, max(dd) AS max_dd_cents
        |  FROM dd GROUP BY 1)
        |SELECT dd.c_nationkey,
        |  CAST(max(max_dd_cents) AS BIGINT) AS max_dd_cents,
        |  min(mx) AS trough_mx
        |FROM dd JOIN mxdd ON dd.c_nationkey = mxdd.c_nationkey
        |  AND dd.dd = mxdd.max_dd_cents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q172_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_div,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  count(DISTINCT o_orderpriority) < 3 AS risky
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q173_growth_accounting" ->
      """WITH act AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |x AS (
        |  SELECT day, user_id,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next
        |  FROM act),
        |status AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau,
        |    CAST(count(*) FILTER (prev IS NULL) AS BIGINT) AS n_new,
        |    CAST(count(*) FILTER (prev = day - 1) AS BIGINT) AS n_retained,
        |    CAST(count(*) FILTER (prev IS NOT NULL AND prev < day - 1)
        |      AS BIGINT) AS n_resurrected
        |  FROM x GROUP BY 1),
        |churn AS (
        |  SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM x WHERE next IS NULL OR next > day + 1
        |  GROUP BY 1)
        |SELECT coalesce(status.day, churn.day) AS day,
        |  coalesce(dau, 0) AS dau, coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM status FULL OUTER JOIN churn ON status.day = churn.day
        |ORDER BY 1""".stripMargin,
  )
}
