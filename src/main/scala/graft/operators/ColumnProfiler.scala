package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-driven column profiler — the data-quality census a pipeline
  * runs over every new ingestion batch (null counts, distinct
  * cardinalities, per-type min/max).
  *
  * One pass over the input: every metric is an aggregate in a single
  * `df.agg(...)`, so the scan is shared and each metric combines
  * map-side. The exact `countDistinct` per column rewrites through the
  * Expand node (the q65 machinery) — one input row fans out to one row
  * per distinct-column, which is the honest cost of EXACT cardinalities;
  * at 100 TB swap in `approx_count_distinct` (HLL, one row, mergeable)
  * via `exact = false`. The wide single-row result then melts through
  * `stack` into one row per column — driver-size, not data-size.
  */
object ColumnProfiler {

  /** SQL string literal for a column name: backslash-escape \ and '. */
  private def strLit(name: String): String =
    "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Backtick-quoted identifier: inner backticks double, per the parser. */
  private def ident(name: String): String =
    "`" + name.replace("`", "``") + "`"

  def profile(df0: DataFrame, exact: Boolean = true): DataFrame = {
    // The exact-distinct Expand fans every input row out |columns|
    // times BEFORE the partial aggregate, so the map side carries the
    // census's real work; a small single-file batch scans as one or two
    // partitions and serializes it (q77 measured 4.3s of task time over
    // 5 tasks at sf0.1). Spread a narrow input across the cores first.
    val df = Partitions.spread(df0)
    val fields = df.schema.fields
    require(fields.nonEmpty, "ColumnProfiler.profile: input has no columns")
    val aggs = fields.flatMap { f =>
      // col() PARSES its argument (dots, backticks) — quote the raw
      // field name so hostile names resolve literally.
      val c = col(ident(f.name))
      val distinct =
        if (exact) countDistinct(c) else approx_count_distinct(c)
      Seq(
        count_if(c.isNull).as(s"${f.name}__nulls"),
        distinct.as(s"${f.name}__distinct")) ++ (f.dataType match {
        case _: NumericType => Seq(
          min(c).cast("double").as(s"${f.name}__nmin"),
          max(c).cast("double").as(s"${f.name}__nmax"))
        case DateType | TimestampType | TimestampNTZType => Seq(
          min(c).cast("date").cast("string").as(s"${f.name}__smin"),
          max(c).cast("date").cast("string").as(s"${f.name}__smax"))
        case StringType => Seq(
          min(c).as(s"${f.name}__smin"),
          max(c).as(s"${f.name}__smax"))
        case _ => Seq.empty
      })
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = fields.map { f =>
      val (numMin, numMax, strMin, strMax) = f.dataType match {
        case _: NumericType =>
          (ident(s"${f.name}__nmin"), ident(s"${f.name}__nmax"),
            "CAST(NULL AS STRING)", "CAST(NULL AS STRING)")
        case DateType | TimestampType | TimestampNTZType | StringType =>
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            ident(s"${f.name}__smin"), ident(s"${f.name}__smax"))
        case _ =>
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            "CAST(NULL AS STRING)", "CAST(NULL AS STRING)")
      }
      s"${strLit(f.name)}, ${ident(s"${f.name}__nulls")}, " +
        s"${ident(s"${f.name}__distinct")}, " +
        s"$numMin, $numMax, $strMin, $strMax"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${fields.length}, $stackArgs) AS " +
        "(col_name, n_nulls, n_distinct, num_min, num_max, str_min, str_max)"))
      .orderBy("col_name")
  }
}
