package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, graftbridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalLimit

/** The one iteration driver of the graph operators, in two modes.
  *
  * Spark-side ([[apply]], [[growing]]), for state that grows with the
  * input: [[BfsHops]], [[KCore]], [[TransitiveClosure]] and
  * [[ConnectedComponents]] give a step and a change test. Each round
  * marks the step's result with a LAZY `localCheckpoint(false)` and
  * counts it once: the count is the first action on the marked RDD, so
  * its job also persists the checkpoint blocks (an eager checkpoint
  * costs a job more). The truncation is needed: a step reads the last
  * state twice, so the plan would double every round (a 50-round chain
  * OOMs the driver planning it). Frames a step reads twice before their
  * first action (edges, initial state) are the operator's to checkpoint
  * eagerly. A round costs the step's jobs plus the count's — AQE submits
  * each shuffle-map and broadcast stage as a job — a fixed number per
  * operator that its spec pins exactly (local[4], AQE on). It stays
  * fixed only while no step holds an inner sort-merge join with a
  * broadcast under one side's exchange: AQE re-plans such a join into a
  * broadcast join when the other side's shuffle ends, and the exchange
  * still runs as a job if its stage started first, a race. A state still
  * changing after `maxIter` rounds throws.
  *
  * Driver-side ([[collect]]), for state bounded by a small node set
  * ([[PageRank]], [[Hits]], q354 on nation graphs): the caller collects
  * its condensed graph once and runs the rounds on the driver, so the
  * job count does not grow with the round count.
  */
object Fixpoint {

  /** Max rows [[collect]] takes from one frame. */
  val DriverGuard: Int = 1000000

  /** Runs `step` from `init` until a round changes no row: round `r`
    * (from 1) changed the rows of its result where `changed(r)` holds.
    */
  def apply(init: DataFrame, maxIter: Int, what: String)(
      step: (DataFrame, Int) => DataFrame)(changed: Int => Column): DataFrame =
    loop(init, maxIter, what)(step)((next, r) => next.filter(changed(r)).count())

  /** Runs `step` from `init` until the row count stops growing, for
    * frames whose rows are only ever added. `init` is counted here too.
    */
  def growing(init: DataFrame, maxIter: Int, what: String)(
      step: DataFrame => DataFrame): DataFrame = {
    val start = init.localCheckpoint(false)
    var rows = start.count()
    loop(start, maxIter, what)((s, _) => step(s)) { (next, _) =>
      val before = rows
      rows = next.count()
      rows - before
    }
  }

  private def loop(init: DataFrame, maxIter: Int, what: String)(
      step: (DataFrame, Int) => DataFrame)(
      change: (DataFrame, Int) => Long): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    var (state, changed, r) = (init, 1L, 0)
    while (changed != 0 && r < maxIter) {
      r += 1
      state = step(state, r).localCheckpoint(false)
      changed = change(state, r)
    }
    if (changed != 0)
      throw new IllegalStateException(s"$what did not converge in $maxIter rounds")
    state
  }

  /** One exchange-free collect, each partition capped at guard + 1 rows;
    * more than [[DriverGuard]] rows in all throws.
    */
  def collect(df: DataFrame, what: String): Array[Row] = {
    val rows = graftbridge.ofRows(df.sparkSession,
      LocalLimit(Literal(DriverGuard + 1), df.queryExecution.analyzed)).collect()
    require(rows.length <= DriverGuard,
      s"$what exceeds driver guard ($DriverGuard rows)")
    rows
  }
}
