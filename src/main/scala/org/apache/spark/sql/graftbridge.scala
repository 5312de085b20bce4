package org.apache.spark.sql

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.csv.CSVUtils

/** Bridge into the private[sql] Column<->Expression converters — the
  * supported way to expose custom Catalyst expressions as Columns changed
  * to ColumnNodes in Spark 4; this keeps the shim surface to two calls.
  */
object graftbridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's ANSI `[DIVIDE_BY_ZERO]` error, for driver code that replaces
    * an integer `div` and must fail as the SQL would.
    */
  def divideByZero(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** DataFrame from a (possibly custom) LogicalPlan — the constructor a
    * custom whole-operator node needs to surface as a Dataset.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The column names of a `spark.read.options(options).csv(path)` read of
    * one file with `header` set, read on the driver with no Spark job. The
    * header is the line the scan drops as the header: the first that is
    * not a comment and not blank (nothing but chars up to U+0020), decoded
    * and split as the scan does. Duplicate and empty names are renamed as
    * header inference renames them (`a0`, `A1`, `_c3`). A file with no such
    * line has no columns. Throws when `path` cannot be opened as a file: a
    * missing path, a directory, or a glob.
    */
  def csvHeader(spark: SparkSession, path: String,
      options: Map[String, String]): Seq[String] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.conf
    val csv = new CSVOptions(options, conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    CSVUtils.readHeaderLine(new Path(path), csv,
        state.newHadoopConfWithOptions(options))
      .flatMap(line => Option(new CsvParser(csv.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, csv).toSeq)
      .getOrElse(Nil)
  }

  /** V2 filter Predicate → V1 source Filter, for SupportsDeleteV2
    * implementations that want the stable v1 EqualTo/In shapes.
    */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}
