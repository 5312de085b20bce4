package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.ZOrder
import graft.operators.Fixpoint

/** Round-7 additions, batch 141 (SURVEY.md §2.4):
  *
  *  - q352: Z-ORDER clustering — the multi-dimensional data-layout
  *    device (`OPTIMIZE ZORDER BY`) that makes min/max data skipping
  *    work on MORE THAN ONE column at 100 TB. Orders are mapped to a
  *    (customer, order-day) grid, Morton-coded with the codegen'd
  *    bit-spread ladder in [[graft.functions.ZOrder]], and range-split
  *    into 64 curve buckets; per bucket the query reports the 2-D
  *    bounding box and its area. The oracle replays the interleave
  *    bit-for-bit in SQL, so the hash match pins the exact curve. The
  *    payoff the layout buys (z-buckets' summed box area ≪ a linear
  *    sort's) is asserted in ZOrderSpec; the one shuffle here is the
  *    64-group rollup, map-side combined.
  *  - q353: ORC round-trip with predicate pushdown — the engine's
  *    columnar interchange sink/source beyond parquet. A 5-column
  *    lineitem projection is written as ORC (speculative re-runs land
  *    in the same per-SF directory, mode=overwrite), read back with a
  *    ship-date + quantity predicate that reaches the ORC reader as
  *    pushed filters (pinned in OrcRoundTripSpec), and rolled up by
  *    return flag. The oracle runs the same predicate on the parquet
  *    original: a hash match proves the ORC writer/reader round-trips
  *    values, nulls and timestamps exactly.
  *  - q354: PageRank over the supplier→customer nation trade graph in
  *    EXACT integer arithmetic — the link-centrality score a web-corpus
  *    pipeline attaches to hosts before quality filtering. Ranks are
  *    scaled to parts-per-10^12 longs; every damping step is a floor
  *    division, so three iterations produce bit-identical longs in any
  *    engine — no float drift, no rounding traps. The distributed work
  *    is condensing the fact tables to the distinct nation edge list;
  *    that list and the 25 nation keys are collected once
  *    ([[graft.operators.Fixpoint.collect]]) and the rounds run on the
  *    driver in BigInt, as [[graft.operators.PageRank]] does, so the job
  *    count does not grow with the round count (`NationRankSpec` pins
  *    it). The oracle replays all three iterations as chained CTEs.
  */
object Analytics141 {
  import Tables.t

  private val ZGridBits = 12 // 4096 x 4096 grid
  private val ZBuckets = 64L
  private val PrScale = 1000000000000L // ranks in parts per 10^12
  private val PrIters = 3

  /** grid coordinates shared by q352's engine and oracle: customer key
    * and days-since-epoch-of-dataset, both folded into [0, 4096)
    */
  private def gridX(c: Column): Column = pmod(c, lit(1 << ZGridBits))
  private def gridY(d: Column): Column =
    pmod(datediff(d.cast("date"), lit("1992-01-01").cast("date")),
      lit(1 << ZGridBits))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q352_zorder_cluster" -> ((spark, dir) => {
      val pts = t(spark, dir, "orders")
        .select(gridX(col("o_custkey")).cast("long").as("px"),
          gridY(col("o_orderdate")).cast("long").as("py"))
      val zspan = (1L << (2 * ZGridBits)) / ZBuckets
      pts
        .withColumn("zval", ZOrder.z2(col("px"), col("py")))
        .withColumn("bucket", expr(s"zval div $zspan"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("px")).as("min_x"), max(col("px")).as("max_x"),
          min(col("py")).as("min_y"), max(col("py")).as("max_y"))
        .withColumn("box_area",
          (col("max_x") - col("min_x") + 1) * (col("max_y") - col("min_y") + 1))
        .orderBy("bucket")
    }),

    "q353_orc_pushdown" -> ((spark, dir) => {
      import java.nio.file.Paths
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_q353", Paths.get(dir).getFileName.toString)
      t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_quantity"), col("l_shipdate"), col("l_returnflag"))
        .write.mode("overwrite").orc(base.toString)
      spark.read.orc(base.toString)
        .filter(col("l_shipdate").cast("date")
          .between(lit("1996-01-01").cast("date"),
            lit("1996-12-31").cast("date"))
          && col("l_quantity") < 10)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count_distinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")
    }),

    "q354_pagerank_int" -> ((spark, dir) => nationRanks(spark, dir, PrIters)),
  )

  /** q354's ranks after `iters` rounds, ordered by node: the dangling
    * rank is shared evenly, an edge passes `(pr * 85) div (100 * deg)`.
    */
  private[queries] def nationRanks(spark: SparkSession, dir: String,
      iters: Int): DataFrame = {
    val edges = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("src"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("dst"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    val nodes = t(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("node"))
    val ids = Fixpoint.collect(nodes, "q354 node set").map(_.getLong(0))
    val es = Fixpoint.collect(edges, "q354 edge set")
      .map(e => (e.getLong(0), e.getLong(1)))
    val n = ids.length
    val deg = es.groupBy(_._1).map { case (s, g) => s -> BigInt(g.length) }
    val base = BigInt((15L * PrScale) / (100L * n))
    var pr = ids.map(id => id -> BigInt(PrScale / n)).toMap
    for (_ <- 1 to iters) {
      val dang = ids.filterNot(deg.contains).map(pr).sum
      val inflow = es.filter(e => pr.contains(e._1))
        .groupMapReduce(_._2)(e => pr(e._1) * 85 / (100 * deg(e._1)))(_ + _)
      pr = ids.map(id => id -> BigInt((base + 85 * dang / (100 * n) +
        inflow.getOrElse(id, BigInt(0))).bigInteger.longValueExact())).toMap
    }
    spark.createDataFrame(ids.toSeq.map(id => Row(id, pr(id).toLong)).asJava,
      nodes.schema.add("pr", LongType, nullable = false)).orderBy("node")
  }

  /** q354's oracle: the three damping iterations as chained CTEs, all
    * in BIGINT floor division — generated by the same loop the engine
    * runs, so the SQL is the spec, not a re-derivation.
    */
  private def pagerankSql: String = {
    val iters = (1 to PrIters).map { k =>
      val prev = s"r${k - 1}"
      s"""dang$k AS (
         |  SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS d FROM $prev
         |  WHERE node NOT IN (SELECT src FROM deg)),
         |c$k AS (
         |  SELECT e.dst,
         |    CAST(sum((r.pr * 85) // (100 * d.deg)) AS BIGINT) AS inflow
         |  FROM e JOIN $prev r ON e.src = r.node
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r$k AS (
         |  SELECT n.node,
         |    (15 * $PrScale) // (100 * (SELECT n FROM nn))
         |      + (85 * (SELECT d FROM dang$k)) // (100 * (SELECT n FROM nn))
         |      + coalesce(c.inflow, 0) AS pr
         |  FROM n LEFT JOIN c$k c ON n.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(s.s_nationkey AS BIGINT) AS src,
       |    CAST(c.c_nationkey AS BIGINT) AS dst
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey),
       |n AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation),
       |nn AS (SELECT count(*) AS n FROM n),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |r0 AS (
       |  SELECT node, $PrScale // (SELECT n FROM nn) AS pr FROM n),
       |$iters
       |SELECT node, CAST(pr AS BIGINT) AS pr FROM r$PrIters ORDER BY node""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q352_zorder_cluster" -> {
      val zspan = (1L << (2 * ZGridBits)) / ZBuckets
      s"""WITH pts AS (
         |  SELECT CAST(o_custkey % ${1 << ZGridBits} AS BIGINT) AS px,
         |    CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01'
         |      AS BIGINT) % ${1 << ZGridBits} AS BIGINT) AS py
         |  FROM orders),
         |z AS (
         |  SELECT px, py,
         |    ${ZOrder.z2Sql("px", "py")} AS zval
         |  FROM pts)
         |SELECT zval // $zspan AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(px) AS min_x, max(px) AS max_x,
         |  min(py) AS min_y, max(py) AS max_y,
         |  (max(px) - min(px) + 1) * (max(py) - min(py) + 1) AS box_area
         |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    "q353_orc_pushdown" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE)
        |    BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  AND l_quantity < 10
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q354_pagerank_int" -> pagerankSql,
  )
}
