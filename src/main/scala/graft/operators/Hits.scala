package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, graftbridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Weighted HITS (hubs & authorities) in exact scaled-integer
  * arithmetic — the mutually-recursive complement of [[PageRank]]: a
  * node is a good hub if it points at good authorities, a good
  * authority if good hubs point at it.
  *
  * Same reproducibility stance as PageRank: chained float iterations
  * are not replayable across engines, so scores are BIGINT units of
  * Scale⁻¹ and each half-step L1-normalizes with pure integer division
  * `x div (total div Scale)` — truncation toward zero on positive
  * values in both engines, bit-identical on any partitioning.
  *
  * Scale shape: callers condense the graph to an edge list first; that
  * aggregation is the only distributed work. The node set and the edge
  * list are collected once ([[Fixpoint.collect]]) and every half-step
  * runs on the driver in BigInt, with the semantics of the SQL joins it
  * replaced (`HitsSpec` compares the two): a source outside the node set
  * gives nothing; the total sums every edge's share, so an edge into a
  * node outside the set loses its share; a null score or weight gives
  * nothing, and a half-step with no share at all gives null scores; a
  * total below Scale is a zero divisor and throws Spark's ANSI
  * `[DIVIDE_BY_ZERO]`, a score past BIGINT throws as ANSI does. The job
  * count does not grow with `iters`.
  */
object Hits {

  /** L1 mass after each normalization (score units of Scale⁻¹). */
  val Scale: Long = 1000000000L

  /** @param edges (src, dst, w) weighted directed edge frame, integral w;
    *              endpoints compare to node ids as the node column's type
    * @param nodes single-column frame of all node ids
    * @param iters iteration count
    * @return local (node, hub, authority) frame of BIGINT scores
    */
  def scores(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val node = nodes.schema.head
    val ids = Fixpoint.collect(nodes.select(col(node.name)), "HITS node set")
      .map(_.get(0))
    type Edge = (Any, Any, Option[BigInt])
    val es: Array[Edge] = Fixpoint.collect(edges.select(
        col("src").try_cast(node.dataType), col("dst").try_cast(node.dataType),
        col("w").cast("long")), "HITS edge set")
      .map(e => (e.get(0), e.get(1), Option(e.getAs[java.lang.Long](2)).map(BigInt(_))))
    // Positions of each non-null id (a null id matches no edge endpoint).
    val at: Map[Any, Array[Int]] =
      ids.indices.filter(ids(_) != null).toArray.groupBy(ids(_))
    // Each edge carries its `from` end's score times its weight to its
    // `to` end; null and outside `to` ends are groups of their own.
    def half(x: Array[Option[BigInt]], from: Edge => Any, to: Edge => Any) = {
      val raw = es.flatMap(e => at.getOrElse(from(e), Array.empty[Int])
          .map(p => to(e) -> x(p).zip(e._3).map { case (s, w) => s * w }))
        .groupMapReduce(_._1)(_._2)((a, b) => (a ++ b).reduceOption(_ + _))
      val divisor = raw.values.flatten.reduceOption(_ + _).map(_ / Scale)
      if (ids.nonEmpty && divisor.contains(BigInt(0)))
        throw graftbridge.divideByZero()
      ids.map(id => divisor.map { d =>
        val v = Option(id).flatMap(raw.get).flatten.getOrElse(BigInt(0))
        BigInt((v / d).bigInteger.longValueExact())
      })
    }
    var hub = ids.map(_ => Option(BigInt(Scale)))
    var auth = hub
    for (_ <- 1 to iters) {
      auth = half(hub, _._1, _._2)
      hub = half(auth, _._2, _._1)
    }
    // (node, hub) ⋈ (node, authority): a row per pair of positions that
    // hold the same non-null id
    val rows = for ((id, ps) <- at.toSeq; p <- ps.toSeq; q <- ps) yield
      Row(id, hub(p).map(_.toLong).getOrElse(null),
        auth(q).map(_.toLong).getOrElse(null))
    nodes.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", node.dataType, node.nullable),
      StructField("hub", LongType), StructField("authority", LongType))))
  }
}
