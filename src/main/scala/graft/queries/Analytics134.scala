package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 additions, batch 134 (SURVEY.md §2.4):
  *
  *  - q341: incremental maintenance of a JOIN view — the delta-join
  *    algebra an IVM engine applies when BOTH sides of
  *    V = orders ⋈ customer receive inserts:
  *    ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, merged into the old partial by
  *    key-wise addition of count/sum state. The ORACLE is the full
  *    recompute over (A∪ΔA) ⋈ (B∪ΔB): the hash match IS the
  *    incremental ≡ rebuild theorem (the q221 device extended from
  *    SCD2 to join views). All partials are map-side-combinable
  *    aggregations over broadcast-joined dimension slices.
  *  - q342: KMV (k-minimum-values) θ-sketch set operations — mergeable
  *    distinct sketches a 1000-executor rollup can combine: the k
  *    smallest md5 hashes of 1995-active and 1996-active customer
  *    sets, merged for the union estimate (k−1)·M/h_k and a
  *    θ-intersection estimate (shared hashes below θ scaled by the
  *    union). The sketch is fully deterministic given the hash, so the
  *    oracle replays the ESTIMATES bit-for-bit — no weaker accuracy
  *    contract needed; the exact cardinalities ride along for audit.
  *    Bounded min-k aggregates only; no global sorts.
  */
object Analytics134 {
  import Tables.{centsLong, t}

  private val KmvK = 256
  // Md5Pack's range: (2^31 − 1) · 2^31 + (2^31 − 1) ≈ 4.61e18
  private val HashSpace = 2147483647L * 2147483648L + 2147483647L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q341_join_ivm" -> ((spark, dir) => {
      val cust = t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val orders = t(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"),
          centsLong(col("o_totalprice")).as("w"))
      val cutoff = lit("1996-01-01").cast("date")
      val a = orders.filter(col("o_orderdate") < cutoff)
      val da = orders.filter(col("o_orderdate") >= cutoff)
      val b = cust.filter(col("c_custkey") % 3 =!= 0)
      val db = cust.filter(col("c_custkey") % 3 === 0)
      def partial(o: DataFrame, c: DataFrame): DataFrame = o
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum(col("w")).as("s"))
      partial(a, b)
        .union(partial(da, b))
        .union(partial(a, db))
        .union(partial(da, db))
        .groupBy("c_nationkey")
        .agg(sum(col("n")).as("n_orders"),
          sum(col("s")).as("rev_cents"))
        .orderBy("c_nationkey")
    }),

    "q342_kmv_set_ops" -> ((spark, dir) => {
      val o = t(spark, dir, "orders")
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
        .filter(col("yr").isin(1995, 1996))
        .distinct()
        .select(col("yr"), col("o_custkey"),
          graft.functions.Md5Pack(concat(lit("kmv_"),
            col("o_custkey").cast("string"))).as("h"))
        .localCheckpoint(true) // feeds sketches, exact counts, and theta
      def sketch(yr: Int): DataFrame = o.filter(col("yr") === yr)
        .agg(graft.functions.TopKAgg.minK(struct(col("h")), KmvK)
          .as("w"))
        .select(explode(col("w.h")).as(s"h$yr"))
      val sx = sketch(1995).localCheckpoint(true)
      val sy = sketch(1996).localCheckpoint(true)
      // union sketch = k smallest of the merged distinct hash set
      val merged = sx.select(col("h1995").as("h"))
        .union(sy.select(col("h1996").as("h"))).distinct()
        .agg(graft.functions.TopKAgg.minK(struct(col("h")), KmvK)
          .as("w"))
        .select(col("w.h").as("hs"))
        // at tiny scale the union may hold fewer than k distinct
        // hashes: theta is then the LAST sketch entry and the
        // estimator's k adapts to the actual sketch size (both engines)
        .select(element_at(col("hs"), size(col("hs"))).as("theta"),
          size(col("hs")).as("k_u"))
        .localCheckpoint(true)
      // θ-intersection: hashes below θ present in BOTH per-set sketches
      val common = sx.join(sy, col("h1995") === col("h1996"))
        .crossJoin(broadcast(merged))
        .filter(col("h1995") <= col("theta"))
        .agg(count(lit(1)).as("n_common"))
      val exact = o.groupBy()
        .agg(countDistinct(when(col("yr") === 1995, col("o_custkey")))
          .as("exact_x"),
          countDistinct(when(col("yr") === 1996, col("o_custkey")))
            .as("exact_y"),
          countDistinct(col("o_custkey")).as("exact_union"))
      merged.crossJoin(broadcast(common)).crossJoin(broadcast(exact))
        .select(col("k_u"), col("theta"), col("n_common"),
          col("exact_x"), col("exact_y"), col("exact_union"),
          ((col("k_u") - 1).cast("double") * lit(HashSpace.toDouble)
            / col("theta").cast("double")).as("est_union"))
        .withColumn("est_intersection",
          col("n_common").cast("double") / col("k_u").cast("double")
            * col("est_union"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q341_join_ivm" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q342_kmv_set_ops" -> {
      val h = Tables.duckMd5Pack("concat('kmv_', CAST(o_custkey AS VARCHAR))")
      s"""WITH o AS MATERIALIZED (
         |  SELECT DISTINCT year(o_orderdate) AS yr, o_custkey,
         |    $h AS h
         |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
         |sx AS MATERIALIZED (
         |  SELECT h FROM o WHERE yr = 1995 ORDER BY h LIMIT $KmvK),
         |sy AS MATERIALIZED (
         |  SELECT h FROM o WHERE yr = 1996 ORDER BY h LIMIT $KmvK),
         |mrg AS MATERIALIZED (
         |  SELECT h FROM (SELECT DISTINCT h FROM
         |    (SELECT h FROM sx UNION ALL SELECT h FROM sy))
         |  ORDER BY h LIMIT $KmvK),
         |th AS (SELECT max(h) AS theta,
         |  CAST(count(*) AS INTEGER) AS k_u FROM mrg),
         |cm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_common
         |  FROM sx JOIN sy USING (h) CROSS JOIN th
         |  WHERE h <= theta),
         |ex AS (
         |  SELECT
         |    CAST(count(DISTINCT CASE WHEN yr = 1995 THEN o_custkey END)
         |      AS BIGINT) AS exact_x,
         |    CAST(count(DISTINCT CASE WHEN yr = 1996 THEN o_custkey END)
         |      AS BIGINT) AS exact_y,
         |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_union
         |  FROM o)
         |SELECT k_u, theta, n_common, exact_x, exact_y, exact_union,
         |  CAST(k_u - 1 AS DOUBLE) * CAST($HashSpace AS DOUBLE)
         |    / CAST(theta AS DOUBLE) AS est_union,
         |  CAST(n_common AS DOUBLE) / CAST(k_u AS DOUBLE)
         |    * (CAST(k_u - 1 AS DOUBLE) * CAST($HashSpace AS DOUBLE)
         |      / CAST(theta AS DOUBLE)) AS est_intersection
         |FROM th CROSS JOIN cm CROSS JOIN ex""".stripMargin
    },
  )
}
