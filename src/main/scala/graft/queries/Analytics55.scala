package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 additions, batch 62 (SURVEY.md §2.4):
  *
  *  - q202: one-pass correlation matrix — all pairwise Pearson
  *    correlations of (quantity, price, discount, tax) from a SINGLE
  *    aggregate scan: 15 exact-DECIMAL moment sums, melted through
  *    `stack` into one row per variable pair. The float division
  *    happens once per pair on the 6-row output grid, from exact
  *    integer moments — no float accumulation anywhere, so the result
  *    is bit-stable under any partitioning. DECIMAL(38,0) headroom
  *    holds the n·Sxx products through ~6e11 rows (≈ sf 1e5).
  *  - q203: SCD2 dimension build — the classic warehouse op this
  *    engine was missing: collapse a customer's order-priority history
  *    into type-2 dimension rows (valid_from / valid_to / is_current)
  *    via one window scan. Daily snapshot = lowest-orderkey order per
  *    (customer, day); change detection = lag over the snapshot;
  *    valid_to = day before the next change. Everything partitions by
  *    custkey — bounded groups, no global sort except the output
  *    presentation ORDER BY.
  *  - q204: Theil-T inequality decomposition of supplier revenue into
  *    within-nation and between-nation components. Per-supplier ln()
  *    is rounded to 6dp and multiplied into DECIMAL — the only float
  *    sums happen on the 25-nation grid (the q179 determinism recipe).
  *    T_g collapses algebraically to Σx·lnx / X_g − ln μ_g, so one
  *    groupBy per level suffices.
  *  - q205: Adamic–Adar link prediction over the part co-purchase
  *    bipartite graph: parts sharing an order are candidate links,
  *    scored Σ_orders 1/ln(order_size). Pair generation is bounded by
  *    the per-order line cap (≤ 21 pairs/order), the self-join
  *    co-partitions on orderkey, and the weight is attached by a
  *    window count BEFORE pairing — no order-count-sized broadcast.
  */
object Analytics55 {
  import Tables.{centsDecimal, t}

  /** Daily priority snapshots: one priority per (customer, day) —
    * lowest orderkey wins, same rule as the oracle's arg_min.
    */
  private[queries] def prioritySnapshots(
      spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("valid_from"))
      .agg(min_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))

  /** SCD2 build over a (o_custkey, valid_from, prio) snapshot frame:
    * change detection by lag, valid_to = day before the next change,
    * open (current) version has NULL valid_to. One window pass
    * partitioned by customer — shared by q203 (full rebuild) and q221
    * (the incremental path it must equal).
    */
  private[queries] def scd2FromSnap(snap: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("valid_from")
    snap
      .withColumn("prev", lag(col("prio"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("prio"))
      .withColumn("valid_to",
        date_sub(lead(col("valid_from"), 1).over(w), 1))
      .select(col("o_custkey"), col("prio"), col("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q202_correlation_matrix" -> ((spark, dir) => {
      val vars = Seq(
        "qty" -> col("l_quantity").cast("decimal(18,0)"),
        "price" -> centsDecimal(col("l_extendedprice")),
        "disc" -> centsDecimal(col("l_discount")),
        "tax" -> centsDecimal(col("l_tax")))
      val x = t(spark, dir, "lineitem")
        .select(vars.map { case (n, c) => c.as(n) }: _*)
      val aggs =
        Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
          vars.map { case (n, _) => sum(col(n)).cast("decimal(38,0)").as(s"s_$n") } ++
          vars.combinations(2).toSeq.map { case Seq((a, _), (b, _)) =>
            sum((col(a) * col(b)).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as(s"s_${a}_$b")
          } ++
          vars.map { case (n, _) =>
            sum((col(n) * col(n)).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as(s"s_${n}_$n")
          }
      val m = x.agg(aggs.head, aggs.tail: _*)
      // corr(a,b) from the moment row. Each exact DECIMAL sum casts to
      // double FIRST, then the combination runs in pure IEEE double —
      // the identical AST the oracle runs, so the bits match. (Combining
      // in DECIMAL would exceed DuckDB's hard 38-digit multiply cap.)
      def d(c: String): Column = col(c).cast("double")
      def corr(a: String, b: String): Column =
        round((d("n") * d(s"s_${a}_$b") - d(s"s_$a") * d(s"s_$b"))
          / sqrt((d("n") * d(s"s_${a}_$a") - d(s"s_$a") * d(s"s_$a"))
            * (d("n") * d(s"s_${b}_$b") - d(s"s_$b") * d(s"s_$b"))), 6)
      val pairs = vars.combinations(2).toSeq.map { case Seq((a, _), (b, _)) => (a, b) }
      val withCorrs = m.select(
        col("n").cast("long").as("n_rows") +:
          pairs.map { case (a, b) => corr(a, b).as(s"c_${a}_$b") }: _*)
      withCorrs.select(col("n_rows"),
          expr("stack(6, " + pairs.map { case (a, b) =>
            s"'$a', '$b', c_${a}_$b"
          }.mkString(", ") + ") AS (var_a, var_b, corr)"))
        .select("var_a", "var_b", "corr", "n_rows")
        .orderBy("var_a", "var_b")
    }),

    "q203_scd2_priority" -> ((spark, dir) =>
      scd2FromSnap(prioritySnapshots(spark, dir))
        .orderBy("o_custkey", "valid_from")),

    "q204_theil_decomposition" -> ((spark, dir) => {
      val sup = broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      // per-supplier revenue stays DECIMAL(18,0): 1e18 cents of revenue
      // per single supplier is beyond any sf, and the narrow width keeps
      // the x·lx product inside DuckDB's 38-digit multiply cap
      val x = t(spark, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sum(centsDecimal(col("l_extendedprice"))).cast("decimal(18,0)").as("x"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
      // rounded-ln determinism: ln(x) pinned to 6dp DECIMAL per
      // supplier; every cross-supplier sum is exact decimal
      val lx = x.select(col("s_nationkey"), col("x"),
        round(log(col("x").cast("double")), 6).cast("decimal(18,6)").as("lx"))
      val g = lx.groupBy("s_nationkey").agg(
        count(lit(1)).cast("decimal(38,0)").as("ng"),
        sum(col("x")).cast("decimal(38,0)").as("xg"),
        sum((col("x") * col("lx")).cast("decimal(38,6)"))
          .cast("decimal(38,6)").as("sxlx"))
      val tot = g.agg(
        sum(col("ng")).cast("decimal(38,0)").as("n"),
        sum(col("xg")).cast("decimal(38,0)").as("xt"))
      // float math only on the 25-row nation grid
      g.crossJoin(broadcast(tot))
        .select(col("s_nationkey"), col("ng").cast("long").as("n_suppliers"),
          round(col("xg").cast("double") / col("xt").cast("double"), 6)
            .as("rev_share"),
          // + 0.0 folds IEEE −0.0 (a tiny negative rounded away) to +0.0
          // — DuckDB prints −0, Spark prints 0, and the hash differs
          (round(col("sxlx").cast("double") / col("xg").cast("double")
            - log(col("xg").cast("double") / col("ng").cast("double")), 6)
            + 0.0).as("theil_within"),
          (round(col("xg").cast("double") / col("xt").cast("double")
            * log((col("xg").cast("double") / col("xt").cast("double"))
              / (col("ng").cast("double") / col("n").cast("double"))), 6)
            + 0.0).as("between_term"))
        .orderBy("s_nationkey")
    }),

    "q205_adamic_adar" -> ((spark, dir) => {
      val li = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      // order size via window count — co-partitioned with the pair
      // join that follows, so no order-count-sized broadcast
      val sized = li.withColumn("c",
        count(lit(1)).over(Window.partitionBy("l_orderkey")))
        .filter(col("c") >= 2)
        .withColumn("w",
          round(lit(1.0) / log(col("c").cast("double")), 6)
            .cast("decimal(12,6)"))
      val a = sized.select(col("l_orderkey"), col("l_partkey").as("p1"),
        col("w"))
      val b = sized.select(col("l_orderkey").as("ok2"),
        col("l_partkey").as("p2"))
      a.join(b, col("l_orderkey") === col("ok2") && col("p1") < col("p2"))
        .groupBy("p1", "p2")
        .agg(sum(col("w")).cast("decimal(38,6)").cast("double")
          .as("aa_score"),
          count(lit(1)).as("n_shared_orders"))
        .orderBy(col("aa_score").desc, col("p1"), col("p2"))
        .limit(20)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q202_correlation_matrix" -> {
      val vars = Seq("qty" -> "CAST(l_quantity AS DECIMAL(18,0))",
        "price" -> "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))",
        "disc" -> "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))",
        "tax" -> "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))")
      val proj = vars.map { case (n, e) => s"$e AS $n" }.mkString(", ")
      val sums = vars.map { case (n, _) => s"sum($n) AS s_$n" } ++
        vars.combinations(2).toSeq.map { case Seq((a, _), (b, _)) =>
          s"sum($a * $b) AS s_${a}_$b" } ++
        vars.map { case (n, _) => s"sum($n * $n) AS s_${n}_$n" }
      def d(c: String): String = s"CAST($c AS DOUBLE)"
      def corr(a: String, b: String): String =
        s"""round((${d("n")} * ${d(s"s_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")})
           | / sqrt((${d("n")} * ${d(s"s_${a}_$a")} - ${d(s"s_$a")} * ${d(s"s_$a")})
           |   * (${d("n")} * ${d(s"s_${b}_$b")} - ${d(s"s_$b")} * ${d(s"s_$b")})), 6)""".stripMargin
      val pairSelects = vars.combinations(2).toSeq.map { case Seq((a, _), (b, _)) =>
        s"""SELECT '$a' AS var_a, '$b' AS var_b,
           |  ${corr(a, b)} AS corr, CAST(n AS BIGINT) AS n_rows FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH x AS (SELECT $proj FROM lineitem),
         |m AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |  ${sums.mkString(",\n  ")} FROM x)
         |$pairSelects
         |ORDER BY var_a, var_b""".stripMargin
    },

    "q203_scd2_priority" ->
      """WITH snap AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS valid_from,
        |    arg_min(o_orderpriority, o_orderkey) AS prio
        |  FROM orders GROUP BY 1, 2),
        |chg AS (
        |  SELECT *, lag(prio) OVER w AS prev
        |  FROM snap
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from)),
        |vers AS (
        |  SELECT o_custkey, prio, valid_from,
        |    lead(valid_from) OVER w - INTERVAL 1 DAY AS valid_to
        |  FROM chg
        |  WHERE prev IS NULL OR prev <> prio
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY valid_from))
        |SELECT o_custkey, prio, valid_from,
        |  CAST(valid_to AS DATE) AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM vers ORDER BY o_custkey, valid_from""".stripMargin,

    "q204_theil_decomposition" ->
      """WITH x AS (
        |  SELECT s_nationkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS x
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY l_suppkey, s_nationkey),
        |lx AS (
        |  SELECT s_nationkey, x,
        |    CAST(round(ln(CAST(x AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx
        |  FROM x),
        |g AS (
        |  SELECT s_nationkey,
        |    CAST(count(*) AS DECIMAL(38,0)) AS ng,
        |    CAST(sum(x) AS DECIMAL(38,0)) AS xg,
        |    CAST(sum(x * lx) AS DECIMAL(38,6)) AS sxlx
        |  FROM lx GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(ng) AS DECIMAL(38,0)) AS n,
        |    CAST(sum(xg) AS DECIMAL(38,0)) AS xt FROM g)
        |SELECT s_nationkey, CAST(ng AS BIGINT) AS n_suppliers,
        |  round(CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE), 6) AS rev_share,
        |  round(CAST(sxlx AS DOUBLE) / CAST(xg AS DOUBLE)
        |    - ln(CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE)), 6) + 0.0 AS theil_within,
        |  round(CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE)
        |    * ln((CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE))
        |      / (CAST(ng AS DOUBLE) / CAST(n AS DOUBLE))), 6) + 0.0 AS between_term
        |FROM g CROSS JOIN tot
        |ORDER BY s_nationkey""".stripMargin,

    "q205_adamic_adar" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |sized AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(round(1.0 / ln(CAST(count(*) OVER (PARTITION BY l_orderkey)
        |      AS DOUBLE)), 6) AS DECIMAL(12,6)) AS w,
        |    count(*) OVER (PARTITION BY l_orderkey) AS c
        |  FROM li)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |  CAST(CAST(sum(a.w) AS DECIMAL(38,6)) AS DOUBLE) AS aa_score,
        |  CAST(count(*) AS BIGINT) AS n_shared_orders
        |FROM sized a JOIN sized b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |WHERE a.c >= 2
        |GROUP BY 1, 2
        |ORDER BY aa_score DESC, p1, p2
        |LIMIT 20""".stripMargin,
  )
}
