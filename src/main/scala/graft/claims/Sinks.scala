package graft.claims

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{graftbridge, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalLimit
import org.apache.spark.sql.types.StructType

/** Output sinks matching the reference's byte formats (SURVEY §2.1 O18/O19).
  *
  * The candidates sink is a single pretty-printed JSON array
  * (claim_pipeline.py:218-220) — Spark's distributed `write.json` emits
  * JSON-lines part files, so for byte parity we render the (small, filtered)
  * candidate set on the driver, with a size guard: a candidate set larger
  * than [[DriverCollectGuard]] rows is refused, not written.
  */
object Sinks {

  /** Max rows the pretty sink will collect to the driver. */
  val DriverCollectGuard: Int = 1000000

  /** Chars rendered before the buffer is handed to the writer. */
  private val FlushChars = 32 * 1024

  /** True when `s` holds a char that [[jsonStringInto]] must escape. */
  private def needsEscape(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < ' ' || c > '~' || c == '"' || c == '\\') return true
      i += 1
    }
    false
  }

  /** `s` as a JSON string literal with Python json.dump escape semantics
    * (the byte-parity contract): the shorthand escapes incl. \b and \f,
    * and ensure_ascii=True — every non-ASCII UTF-16 code unit (incl. each
    * surrogate half) as \uXXXX. A string that needs no escape, as nearly
    * every claim field, is appended whole.
    */
  private def jsonStringInto(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    if (!needsEscape(s)) sb.append(s)
    else {
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f")
          case c if c < ' ' || c > '~' =>
            sb.append("\\u")
            var shift = 12
            while (shift >= 0) {
              sb.append(Character.forDigit((c >> shift) & 0xf, 16))
              shift -= 4
            }
          case c => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }

  /** Write rows as a Python-json.dump(indent=2)-style JSON array into
    * `out`. Each row is rendered into one StringBuilder, which goes to the
    * writer in pieces of about [[FlushChars]] chars, so the writer sees a
    * few bulk writes rather than one call per char, and peak driver memory
    * stays bounded by the piece size rather than by the whole array.
    */
  def renderJsonArrayTo(out: java.io.Writer, rows: IterableOnce[Row]): Unit = {
    val it = rows.iterator
    if (!it.hasNext) { out.append("[]"); return }
    val sb = new java.lang.StringBuilder(FlushChars)
    def drain(): Unit = { out.append(sb); sb.setLength(0) }
    sb.append("[\n")
    var first = true
    it.foreach { r =>
      if (!first) sb.append(",\n")
      first = false
      sb.append("  {\n")
      val fields = r.schema.fields
      var i = 0
      while (i < fields.length) {
        if (i > 0) sb.append(",\n")
        sb.append("    ")
        jsonStringInto(sb, fields(i).name)
        sb.append(": ")
        if (r.isNullAt(i)) sb.append("null")
        else r.get(i) match {
          case s: String => jsonStringInto(sb, s)
          case n: java.lang.Number => sb.append(n.toString)
          case b: java.lang.Boolean => sb.append(b.toString)
          // Dates/timestamps/anything else: render as a JSON string —
          // bare toString would be invalid JSON.
          case other => jsonStringInto(sb, other.toString)
        }
        i += 1
      }
      sb.append("\n  }")
      if (sb.length >= FlushChars) drain()
    }
    sb.append("\n]")
    drain()
  }

  /** Pretty-JSON candidates sink (byte-parity path). Returns collected rows
    * so callers share the single action (reference returns the candidate
    * list too, claim_pipeline.py:233). The render goes through a
    * buffered writer straight to disk in bulk pieces (see
    * [[renderJsonArrayTo]]).
    *
    * With `orderKeys`, the rows are written and returned sorted by those
    * integral columns (ascending, in the given order), and the key columns
    * are stripped; without, in the order the partitions return them.
    */
  def writeCandidatesPretty(candidates: DataFrame, path: String,
      orderKeys: Seq[String] = Nil): Seq[Row] = {
    // One plain collect of every partition, each capped at guard + 1 rows
    // by a LocalLimit (no exchange); the order is restored below, on the
    // driver, where the nearly-ordered partitions make TimSort about
    // linear. Two in-Spark alternatives lose:
    //  - a top-K (`orderBy` + `limit`) allocates buffers sized by the limit
    //    in every task (about 12 MB per task at a 1M-row guard);
    //  - gathering the rows into one partition first puts an exchange
    //    above the caller's `observe` node, and AQE's empty-relation
    //    propagation then drops the observed metrics when nothing passes
    //    the candidate filter.
    val capped = graftbridge.ofRows(candidates.sparkSession,
      LocalLimit(Literal(DriverCollectGuard + 1),
        candidates.queryExecution.analyzed))
    val keyed = capped.collect()
    require(keyed.length <= DriverCollectGuard,
      s"candidate set exceeds driver guard ($DriverCollectGuard rows): " +
        "the pretty-JSON array is rendered on the driver")
    val rows = if (orderKeys.isEmpty) keyed else inKeyOrder(keyed, orderKeys)
    val out = Files.newBufferedWriter(Paths.get(path),
      StandardCharsets.UTF_8)
    try renderJsonArrayTo(out, rows)
    finally out.close()
    ArraySeq.unsafeWrapArray(rows)
  }

  /** `rows` stably sorted by the integral key columns, keys stripped. */
  private def inKeyOrder(rows: Array[Row], keys: Seq[String]): Array[Row] = {
    if (rows.isEmpty) return rows
    val schema = rows.head.schema
    val keyIdx = keys.map(schema.fieldIndex).toArray
    val keep = schema.fields.indices.filterNot(keyIdx.contains).toArray
    val outSchema = StructType(keep.map(schema.fields))
    java.util.Arrays.sort(rows, (a: Row, b: Row) => {
      var c = 0
      var i = 0
      while (c == 0 && i < keyIdx.length) {
        c = java.lang.Long.compare(a.getAs[Number](keyIdx(i)).longValue,
          b.getAs[Number](keyIdx(i)).longValue)
        i += 1
      }
      c
    })
    rows.map(r => new GenericRowWithSchema(keep.map(r.get), outSchema): Row)
  }

  /** Fixed-template metrics text sink (claim_pipeline.py:223-231). */
  def writeMetrics(metrics: PipelineMetrics, path: String): Unit =
    Files.write(Paths.get(path), metrics.render.getBytes(StandardCharsets.UTF_8))
}
