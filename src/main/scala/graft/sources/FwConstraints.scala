package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BindReferences, EqualNullSafe, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types.StructType

/** Table-level CHECK constraints for the FW source — the Delta
  * `ADD CONSTRAINT` idea: a named SQL predicate stored in
  * `_fw_constraints.json` that every subsequent batch write must
  * satisfy row-by-row (SQL CHECK semantics: NULL passes, only an
  * explicit FALSE violates). Adding a constraint first validates the
  * EXISTING table so the invariant is total, not forward-only.
  *
  * Enforcement design: the constraint text is analyzed ONCE on the
  * driver against the write schema (full Catalyst analysis, so any
  * built-in function works), the resolved expression is bound to
  * schema ordinals and shipped to executors, and each write task
  * compiles it to a codegen'd [[BasePredicate]] — per-row cost is a
  * generated-code boolean, not an interpreter walk, so enforcement
  * survives a 100-TB load. A violation fails the TASK, which aborts
  * the job and sweeps every tmp file: a constrained table can never
  * expose a half-loaded violating commit.
  */
object FwConstraints {
  final case class Constraint(name: String, expr: String)

  def fileFor(path: String): java.io.File =
    new java.io.File(path, "_fw_constraints.json")

  def read(path: String): Seq[Constraint] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = fileFor(path)
    if (!f.isFile) Seq.empty
    else JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)) \ "constraints" match {
      case JArray(cs) => cs.map { c =>
        val JString(name) = c \ "name"
        val JString(expr) = c \ "expr"
        Constraint(name, expr)
      }
      case other => throw new IllegalArgumentException(
        s"bad _fw_constraints.json: $other")
    }
  }

  private def writeFile(path: String, cs: Seq[Constraint]): Unit = {
    import org.json4s.JsonDSL._
    FwPublish.writeJson(fileFor(path), "constraints" -> cs.map(c =>
      ("name" -> c.name) ~ ("expr" -> c.expr)))
  }

  /** Resolve `exprSql` against `schema` with the full analyzer (an
    * empty frame carries the schema through analysis) and bind it to
    * schema ordinals. Driver-side only.
    */
  def bind(schema: StructType, exprSql: String): Expression = {
    val spark = SparkSession.active
    val parsed = spark.sessionState.sqlParser.parseExpression(exprSql)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val analyzed = empty.filter(graftbridge.column(parsed))
      .queryExecution.analyzed
    val (cond, out) = analyzed.collectFirst {
      case f: logical.Filter => (f.condition, f.child.output)
    }.getOrElse(throw new IllegalStateException(
      s"constraint '$exprSql' did not analyze to a Filter"))
    require(cond.dataType == org.apache.spark.sql.types.BooleanType,
      s"constraint must be a boolean predicate: $exprSql")
    require(cond.deterministic,
      s"constraint must be deterministic: $exprSql")
    require(!cond.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]),
      s"constraint must not contain a subquery: $exprSql")
    BindReferences.bindReference(cond, out)
  }

  /** Compiled violation test: true ⇔ the constraint evaluates to an
    * explicit FALSE for the row (SQL CHECK lets NULL pass).
    */
  def violationPredicate(bound: Expression): BasePredicate =
    Predicate.create(EqualNullSafe(bound, Literal(false)))

  /** Add a constraint: validates every existing row first (a violating
    * table refuses the constraint, pointing at the count), then
    * publishes the new constraint set under the table's commit lock so
    * concurrent writers either see it or committed first.
    */
  def add(spark: SparkSession, path: String, schema: StructType,
      table: org.apache.spark.sql.DataFrame,
      name: String, exprSql: String): Unit = {
    val bound = bind(schema, exprSql) // fails fast on a bad expression
    require(bound != null)
    FwVersions.withLock(path) {
      val existing = read(path)
      require(!existing.exists(_.name == name),
        s"FixedWidth: constraint '$name' already exists at $path")
      val violations =
        table.filter(s"NOT coalesce(($exprSql), true)").count()
      if (violations > 0)
        throw new IllegalArgumentException(
          s"FixedWidth: cannot add constraint '$name' ($exprSql): " +
            s"$violations existing row(s) violate it")
      writeFile(path, existing :+ Constraint(name, exprSql))
    }
  }

  /** Spec-string convenience for path-addressed (non-catalog) tables. */
  def add(spark: SparkSession, path: String, schemaSpec: String,
      name: String, exprSql: String): Unit =
    add(spark, path, FixedWidth.parseSchema(schemaSpec),
      spark.read.format("graft.sources.FixedWidth")
        .option("schema", schemaSpec).load(path),
      name, exprSql)

  def drop(path: String, name: String): Unit =
    FwVersions.withLock(path) {
      val existing = read(path)
      require(existing.exists(_.name == name),
        s"FixedWidth: no constraint '$name' at $path")
      writeFile(path, existing.filterNot(_.name == name))
    }
}
