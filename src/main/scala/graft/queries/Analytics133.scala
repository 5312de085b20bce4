package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 additions, batch 133 (SURVEY.md §2.4):
  *
  *  - q339: systematic probability-proportional-to-size sampling — the
  *    deterministic weighted sampler a corpus-curation job wants when
  *    "sample 100 orders proportional to spend" must replay bit-for-bit
  *    on any cluster: a fixed grid of k equally spaced thresholds walks
  *    the cumulative weight axis, and a row is drawn once per threshold
  *    its [cum−w, cum) span covers. All Long arithmetic (hits =
  *    cum·k div W − (cum−w)·k div W), cumulative weights from the
  *    distributed GlobalPrefixSum scan — no floats, no RNG, no
  *    single-task window, oversized rows get multiplicity ≥ 2 exactly
  *    as PPS prescribes.
  *  - q340: z-order clustering benefit — the storage-layout advisor:
  *    for a one-month predicate over orders laid out in 1000-row
  *    blocks, how many blocks must a reader touch under (a) arrival
  *    order, (b) customer-sorted, (c) Morton z-order interleaving the
  *    month index with a customer bucket? Block ids come from
  *    GlobalPrefixSum row numbers per layout (three range scans, no
  *    global windows); the 8-bit × 8-bit interleave is a static
  *    shift/or expression both engines evaluate in exact integers.
  */
object Analytics133 {
  import Tables.{centsLong, t}

  private val SampleK = 100L
  private val BlockRows = 1000L

  /** Morton interleave of two 8-bit values: a's bit i lands at 2i+1,
    * b's at 2i — identical shift/or arithmetic in both engines.
    */
  private def zValue(a: Column, b: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftrightunsigned(a, i) % 2, 2 * i + 1) +
        shiftleft(shiftrightunsigned(b, i) % 2, 2 * i)
    }.reduce(_ + _)

  private def zValueSql(a: String, b: String): String =
    (0 until 8).map { i =>
      s"((($a >> $i) % 2) << ${2 * i + 1}) + ((($b >> $i) % 2) << ${2 * i})"
    }.mkString(" + ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q339_systematic_pps" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"), centsLong(col("o_totalprice")).as("w"))
      val cum = graft.operators.GlobalPrefixSum.withRunningTotal(
        o, "o_orderkey", "w", "cum")
      val tot = o.agg(sum(col("w")).as("big_w"),
        count(lit(1)).as("n_rows"))
      cum.crossJoin(broadcast(tot))
        .select(col("o_orderkey"), col("w").as("w_cents"), col("n_rows"),
          expr(s"cum * $SampleK div big_w - (cum - w) * $SampleK div big_w")
            .as("hits"))
        .filter(col("hits") > 0)
        .orderBy("o_orderkey")
    }),

    "q340_zorder_pruning" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_orderkey"),
          ((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            % 256).cast("long").as("mx"),
          (col("o_custkey") % 256).as("cb"))
        .withColumn("z", zValue(col("mx"), col("cb")))
      val target = lit((1995 * 12 + 3) % 256)
      def blocksTouched(layout: String, orderExpr: Column): DataFrame = {
        val ranked = graft.operators.GlobalPrefixSum.withRunningTotalBy(
          o.withColumn("one", lit(1L)), orderExpr, "one", "rn")
        ranked.filter(col("mx") === target)
          .agg(countDistinct(expr(s"(rn - 1) div $BlockRows"))
            .as("blocks_touched"),
            count(lit(1)).as("rows_matched"))
          .select(lit(layout).as("layout"), col("blocks_touched"),
            col("rows_matched"))
      }
      blocksTouched("arrival", struct(col("o_orderkey")))
        .union(blocksTouched("custkey_sorted",
          struct(col("cb"), col("o_orderkey"))))
        .union(blocksTouched("zorder", struct(col("z"), col("o_orderkey"))))
        .orderBy("layout")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q339_systematic_pps" ->
      s"""WITH o AS (
         |  SELECT o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      AS w
         |  FROM orders),
         |c AS (
         |  SELECT o_orderkey, w,
         |    sum(w) OVER (ORDER BY o_orderkey
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM o),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS big_w,
         |  CAST(count(*) AS BIGINT) AS n_rows FROM o)
         |SELECT o_orderkey, w AS w_cents, n_rows,
         |  CAST(cum * $SampleK // big_w - (cum - w) * $SampleK // big_w
         |    AS BIGINT) AS hits
         |FROM c CROSS JOIN tot
         |WHERE cum * $SampleK // big_w
         |  - (cum - w) * $SampleK // big_w > 0
         |ORDER BY o_orderkey""".stripMargin,

    "q340_zorder_pruning" -> {
      val z = zValueSql("mx", "cb")
      s"""WITH o AS (
         |  SELECT o_orderkey,
         |    CAST((year(o_orderdate) * 12 + month(o_orderdate)) % 256
         |      AS BIGINT) AS mx,
         |    o_custkey % 256 AS cb
         |  FROM orders),
         |z AS (SELECT *, $z AS zv FROM o),
         |lay AS (
         |  SELECT 'arrival' AS layout, mx,
         |    row_number() OVER (ORDER BY o_orderkey) AS rn FROM z
         |  UNION ALL
         |  SELECT 'custkey_sorted', mx,
         |    row_number() OVER (ORDER BY cb, o_orderkey) FROM z
         |  UNION ALL
         |  SELECT 'zorder', mx,
         |    row_number() OVER (ORDER BY zv, o_orderkey) FROM z)
         |SELECT layout,
         |  CAST(count(DISTINCT (rn - 1) // $BlockRows) AS BIGINT)
         |    AS blocks_touched,
         |  CAST(count(*) AS BIGINT) AS rows_matched
         |FROM lay WHERE mx = (1995 * 12 + 3) % 256
         |GROUP BY layout ORDER BY layout""".stripMargin
    },
  )
}
