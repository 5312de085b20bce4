package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 96 (SURVEY.md §2.4):
  *
  *  - q251: CUPED variance reduction — the experimentation-platform
  *    estimator: per-customer post-period spend (metric Y) adjusted by
  *    pre-period spend (covariate X) with θ = cov(X,Y)/var(X), which
  *    shrinks metric variance by exactly the squared X–Y correlation.
  *    Assignment is a deterministic md5 parity; every moment (ΣX, ΣY,
  *    ΣXY, ΣX², ΣY², per arm and pooled) accumulates in exact
  *    DECIMAL, and var(Y−θX) expands ALGEBRAICALLY to
  *    var(Y) − 2θ·cov + θ²·var(X) — so no per-row float ever sums
  *    across rows. Output: arm means, raw and CUPED-adjusted lift,
  *    and the variance-reduction ratio.
  *  - q252: winsorized mean — the robust average: values clamped at
  *    the exact rank-selected P5/P95 before averaging, computed as
  *    (middle-sum + n_low·p5 + n_high·p95)/n — conditional integer
  *    sums, one float division at the end. Per return flag.
  */
object Analytics86 {
  import Tables.{centsLong, t}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q251_cuped" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          centsLong(col("o_totalprice")).as("p"))
      val cut = o.agg(date_sub(max(col("d")), 365).as("cutoff"))
      val per = o.crossJoin(broadcast(cut))
        .groupBy("o_custkey")
        .agg(sum(when(col("d") <= col("cutoff"), col("p"))
            .otherwise(0L)).as("x"),
          sum(when(col("d") > col("cutoff"), col("p"))
            .otherwise(0L)).as("y"))
        .withColumn("arm",
          pmod(graft.functions.Md5Pack(col("o_custkey").cast("string")),
            lit(2)))
      val m = per.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum(col("x").cast("decimal(19,0)") * col("y"))
          .cast("decimal(38,0)").as("sxy"),
        sum(col("x").cast("decimal(19,0)") * col("x"))
          .cast("decimal(38,0)").as("sxx"),
        sum(col("y").cast("decimal(19,0)") * col("y"))
          .cast("decimal(38,0)").as("syy"),
        sum(when(col("arm") === 1, col("y")).otherwise(0L))
          .cast("decimal(38,0)").as("sy1"),
        count_if(col("arm") === 1).cast("decimal(38,0)").as("n1"),
        sum(when(col("arm") === 0, col("y")).otherwise(0L))
          .cast("decimal(38,0)").as("sy0"),
        count_if(col("arm") === 0).cast("decimal(38,0)").as("n0"),
        sum(when(col("arm") === 1, col("x")).otherwise(0L))
          .cast("decimal(38,0)").as("sx1"),
        sum(when(col("arm") === 0, col("x")).otherwise(0L))
          .cast("decimal(38,0)").as("sx0"))
      def d(c: String) = col(c).cast("double")
      val theta = (d("n") * d("sxy") - d("sx") * d("sy")) /
        (d("n") * d("sxx") - d("sx") * d("sx"))
      val varY = (d("n") * d("syy") - d("sy") * d("sy"))
      val covXY = (d("n") * d("sxy") - d("sx") * d("sy"))
      val varX = (d("n") * d("sxx") - d("sx") * d("sx"))
      m.select(
        col("n").cast("long").as("n_customers"),
        round(theta, 6).as("theta"),
        round(d("sy1") / d("n1") - d("sy0") / d("n0"), 4).as("raw_lift"),
        round((d("sy1") / d("n1") - theta * (d("sx1") / d("n1")))
          - (d("sy0") / d("n0") - theta * (d("sx0") / d("n0"))), 4)
          .as("cuped_lift"),
        round(lit(1.0)
          - (varY - lit(2.0) * theta * covXY + theta * theta * varX)
            / varY, 6)
          .as("variance_reduction"))
    }),

    "q252_winsorized_mean" -> ((spark, dir) => {
      val x = t(spark, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          centsLong(col("l_extendedprice")).as("v"),
          col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("g").orderBy(col("v"), col("l_orderkey"),
        col("l_linenumber"))
      val ranked = x.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      val p5 = ranked.filter(col("rn") === ceil(col("n") / 20))
        .select(col("g").as("g5"), col("v").as("p5"))
      val p95 = ranked.filter(col("rn") === ceil(col("n") * 19 / 20))
        .select(col("g").as("g95"), col("v").as("p95"))
      x.join(broadcast(p5), col("g") === col("g5"))
        .join(broadcast(p95), col("g") === col("g95"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          first(col("p5")).as("p5_cents"),
          first(col("p95")).as("p95_cents"),
          sum(when(col("v") < col("p5"), col("p5"))
            .when(col("v") > col("p95"), col("p95"))
            .otherwise(col("v"))).as("wsum"))
        .withColumn("winsorized_mean",
          round(col("wsum").cast("double") / col("n").cast("double"), 4))
        .orderBy("g")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q251_cuped" ->
      s"""WITH o AS (
         |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
         |  FROM orders),
         |cut AS (SELECT max(d) - 365 AS cutoff FROM o),
         |per AS (
         |  SELECT o_custkey,
         |    CAST(sum(CASE WHEN d <= cutoff THEN p ELSE 0 END) AS BIGINT)
         |      AS x,
         |    CAST(sum(CASE WHEN d > cutoff THEN p ELSE 0 END) AS BIGINT)
         |      AS y,
         |    (${Tables.duckMd5Pack("CAST(o_custkey AS VARCHAR)")}) % 2
         |      AS arm
         |  FROM o CROSS JOIN cut GROUP BY o_custkey),
         |m AS (
         |  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         |    CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(y * y) AS DECIMAL(38,0)) AS syy,
         |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END)
         |      AS DECIMAL(38,0)) AS sy1,
         |    CAST(count(*) FILTER (arm = 1) AS DECIMAL(38,0)) AS n1,
         |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END)
         |      AS DECIMAL(38,0)) AS sy0,
         |    CAST(count(*) FILTER (arm = 0) AS DECIMAL(38,0)) AS n0,
         |    CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END)
         |      AS DECIMAL(38,0)) AS sx1,
         |    CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END)
         |      AS DECIMAL(38,0)) AS sx0
         |  FROM per)
         |SELECT CAST(n AS BIGINT) AS n_customers,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS theta,
         |  round(CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |    - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE), 4) AS raw_lift,
         |  round((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |      * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
         |    - (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |      * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))), 4)
         |    AS cuped_lift,
         |  round(1.0
         |    - ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         |      - 2.0 * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      + ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |        * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |        * (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |    / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 6)
         |    AS variance_reduction
         |FROM m""".stripMargin,

    "q252_winsorized_mean" ->
      """WITH x AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY g
        |      ORDER BY v, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM x),
        |p5 AS (SELECT g, v AS p5 FROM ranked WHERE rn = ceil(n / 20.0)),
        |p95 AS (SELECT g, v AS p95 FROM ranked
        |        WHERE rn = ceil(n * 19 / 20.0))
        |SELECT x.g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(p5.p5) AS BIGINT) AS p5_cents,
        |  CAST(min(p95.p95) AS BIGINT) AS p95_cents,
        |  CAST(sum(CASE WHEN v < p5.p5 THEN p5.p5
        |    WHEN v > p95.p95 THEN p95.p95 ELSE v END) AS BIGINT) AS wsum,
        |  round(CAST(sum(CASE WHEN v < p5.p5 THEN p5.p5
        |    WHEN v > p95.p95 THEN p95.p95 ELSE v END) AS DOUBLE)
        |    / count(*), 4) AS winsorized_mean
        |FROM x JOIN p5 ON x.g = p5.g JOIN p95 ON x.g = p95.g
        |GROUP BY x.g ORDER BY x.g""".stripMargin,
  )
}
