package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** Result pins for the graph-ANN family (s38b–s46), which shares one
  * NN-Descent build, one greedy walk and one recall audit. Each query
  * runs once; its full result row is asserted exactly, together with the
  * invariants the queries state about themselves.
  */
class GraphWalkSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val Sf = "/root/testdata/sf0.001"

  /** Runs `name` once and asserts its single row column by column, in
    * order; also asserts every recall lies in [0, 1]. Returns the row as
    * column -> value. */
  private def pin(name: String, expected: (String, Any)*): Map[String, Any] = {
    val rows = graft.SparkEntry.queries(name)(spark, Sf).collect()
    assert(rows.length === 1, s"$name: one row")
    val r = rows.head
    assert(r.schema.fieldNames.toSeq === expected.map(_._1))
    assert(r.toSeq === expected.map(_._2))
    val got = r.schema.fieldNames.zip(r.toSeq).toMap
    got.foreach {
      case (c, d: Double) if c.contains("recall") =>
        assert(d >= 0.0 && d <= 1.0, s"$name: $c = $d outside [0, 1]")
      case _ =>
    }
    got
  }

  test("s38b: per-round recall curve, monotone") {
    val got = pin("s38b_nn_descent_converge",
      "n_nodes" -> 500L, "possible" -> 250L,
      "hits_init" -> 5L, "hits_r1" -> 93L, "hits_r2" -> 172L,
      "hits_r3" -> 196L,
      "recall_init" -> 0.02, "recall_r1" -> 0.372, "recall_r2" -> 0.688,
      "recall_r3" -> 0.784, "monotone" -> true)
    assert(got("monotone") === true)
  }

  test("s39: greedy walk from md5-random entries") {
    pin("s39_graph_ann_search",
      "n_nodes" -> 500L, "possible" -> 250L, "hits" -> 216L,
      "recall" -> 0.864)
  }

  test("s40: filtered walk; its unfiltered recall is s39's") {
    pin("s40_filtered_graph_search",
      "n_nodes" -> 500L, "possible_filtered" -> 250L,
      "hits_filtered" -> 179L, "recall_filtered" -> 0.716,
      "possible_all" -> 250L, "hits_all" -> 216L, "recall_all" -> 0.864)
  }

  test("s41: routed walk beside the random-entry walk") {
    pin("s41_hierarchical_graph_search",
      "n_nodes" -> 500L, "n_upper" -> 32L, "possible" -> 250L,
      "hits_routed" -> 223L, "recall_routed" -> 0.892,
      "hits_random" -> 216L, "recall_random" -> 0.864)
  }

  test("s42: PQ-scored walk, exact re-rank vs raw PQ answer") {
    pin("s42_pq_graph_walk",
      "n_nodes" -> 500L, "possible" -> 250L,
      "hits_rerank" -> 157L, "recall_rerank" -> 0.628,
      "hits_raw" -> 110L, "recall_raw" -> 0.44)
  }

  test("s43: recall-vs-hops curve, monotone") {
    val got = pin("s43_walk_depth_curve",
      "n_nodes" -> 500L, "hops" -> 3L, "ef" -> 10L, "possible" -> 250L,
      "hits_h0" -> 5L, "hits_h1" -> 37L, "hits_h2" -> 136L,
      "hits_h3" -> 218L,
      "recall_h0" -> 0.02, "recall_h1" -> 0.148, "recall_h2" -> 0.544,
      "recall_h3" -> 0.872, "monotone_recall" -> true)
    assert(got("monotone_recall") === true)
  }

  test("s45: centroid-routed insert") {
    pin("s45_centroid_routed_insert",
      "n_base" -> 450L, "n_new" -> 50L, "n_centers" -> 16L,
      "possible" -> 250L, "hits_seed" -> 27L, "hits_inc" -> 52L,
      "hits_full" -> 42L,
      "seed_recall" -> 0.108, "inc_recall" -> 0.208, "full_recall" -> 0.168,
      "refinement_improved" -> true, "recall_close_to_rebuild" -> true)
  }

  test("s46: centroid-routed walk stays close to the random-entry walk") {
    val got = pin("s46_centroid_routed_search",
      "n_nodes" -> 500L, "n_centers" -> 16L, "possible" -> 250L,
      "hits_routed" -> 227L, "recall_routed" -> 0.908,
      "hits_random" -> 216L, "recall_random" -> 0.864,
      "routing_close_to_random" -> true)
    assert(got("routing_close_to_random") === true)
  }
}
