package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Weighted PageRank with uniform dangling-mass redistribution, in exact
  * scaled-integer arithmetic (rank units of 1e-12).
  *
  * Why integers: chained float iterations are not reproducible across
  * engines/partitionings — `round(double, 9)` half-way ties resolve
  * differently between decimal-string rounding (JVM) and binary rounding
  * (C engines), and one flipped ulp compounds through every later
  * iteration. With ranks as BIGINT units, damping as ×850 `div` 1000 and
  * contributions as `(r·w) div out_w`, every step is pure integer
  * arithmetic: bit-identical on any engine, any partitioning, any
  * iteration count. Truncation can only LOSE mass (bounded by 1 unit per
  * edge/node per step), never create it — the conservation test in
  * PageRankSpec pins that.
  *
  * Scale shape: callers CONDENSE the graph first (aggregate the fact
  * table to an edge list); that aggregation is the only distributed
  * work. The node set and the condensed `(src, dst, w)` list are then
  * collected once (each by [[Fixpoint.collect]]) and every round
  * runs on the driver, so the Spark job count does not grow with
  * `iters` (PageRankSpec pins it). The rounds
  * compute in BigInt: `r·w` cannot overflow, `div` truncates toward
  * zero exactly as Spark's does, and each round's ranks convert back to
  * BIGINT with `longValueExact`, so an overflow throws as ANSI mode
  * would instead of wrapping.
  */
object PageRank {

  /** Total rank mass: ranks start at Scale/|nodes| and sum to ~Scale. */
  val Scale: Long = 1000000000000L

  /** @param edges  (src, dst, w) weighted directed edge frame, integral w;
    *               endpoints compare to node ids as the node column's type
    * @param nodes  single-column frame of all node ids (superset of the
    *               edge endpoints; isolated nodes keep teleport rank)
    * @param iters  iteration count
    * @return local (node, r) frame with r in units of Scale⁻¹ (BIGINT)
    */
  def ranks(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val node = nodes.schema.head
    val ids = Fixpoint.collect(nodes.select(col(node.name)), "PageRank node set")
      .map(_.get(0))
    val n = ids.length
    require(n > 0, "empty node set")
    // try_cast: an endpoint the node type cannot hold matches no node,
    // as it would in a join that widens both sides
    val es = Fixpoint.collect(edges.select(col("src").try_cast(node.dataType),
        col("dst").try_cast(node.dataType), col("w").cast("long")),
        "PageRank edge set")
      .map(e => (e.get(0), e.get(1), Option(e.getAs[java.lang.Long](2)).map(BigInt(_))))
    // Positions of each non-null id (a null id matches no edge endpoint).
    val at: Map[Any, Array[Int]] =
      ids.indices.filter(ids(_) != null).toArray.groupBy(ids(_))
    // Out-weight sums every edge of a source, inside the node set or not.
    val outw: Map[Any, BigInt] = es.groupBy(_._1).map { case (s, g) =>
      s -> g.flatMap(_._3).sum
    }
    val teleport = BigInt((Scale * 15L / 100L) / n)
    var r = Array.fill(n)(Scale / n)
    for (_ <- 1 to iters) {
      val contrib = collection.mutable.HashMap.empty[Any, BigInt]
      for ((s, d, w) <- es; wv <- w; p <- at.getOrElse(s, Array.empty[Int]))
        contrib(d) = contrib.getOrElse(d, BigInt(0)) + BigInt(r(p)) * wv / outw(s)
      // rank parked on nodes without out-edges redistributes uniformly —
      // without this, dangling nodes leak 85% of their mass every step
      val dang = ids.indices.filter(p => ids(p) == null || !outw.contains(ids(p)))
        .map(p => BigInt(r(p))).sum
      r = ids.map { id =>
        val s = if (id == null) BigInt(0) else contrib.getOrElse(id, BigInt(0))
        (teleport + BigInt(850) * (s + dang / n) / 1000).bigInteger.longValueExact()
      }
    }
    val schema = StructType(Seq(StructField("node", node.dataType, node.nullable),
      StructField("r", LongType, nullable = false)))
    nodes.sparkSession.createDataFrame(
      ids.indices.map(p => Row(ids(p), r(p))).asJava, schema)
  }
}
