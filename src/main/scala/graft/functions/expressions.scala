package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot paths the built-in function set
  * can't express efficiently (SURVEY.md §4.3 preference order: native
  * Expression with doGenCode > UDF). Both are whole-stage-codegen'd — no
  * boxing, no lambda dispatch per element.
  */

/** One-pass cosine similarity over two array<float|double> columns.
  *
  * Replaces the transform+zip_with+aggregate chain (3 array walks with
  * per-element HOF lambda dispatch) with a single fused loop. Accumulation
  * is sequential in index order — for equal-length inputs, bit-identical
  * to the HOF formulation and to DuckDB's list_dot_product, so oracle
  * parity is preserved. Mismatched lengths (malformed embeddings) return
  * NULL, matching what zip_with-pads-with-null + aggregate yields.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // NULL on length mismatch, independent of child nullability.
  override def nullable: Boolean = true
  // Deterministic pure function → ConstantFolding may evaluate literal
  // inputs at plan time.
  override def foldable: Boolean = left.foldable && right.foldable

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      val lf = elemType(left) == FloatType
      val rf = elemType(right) == FloatType
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      def get(arr: String, e: Expression, idx: String) =
        if (elemType(e) == FloatType) s"(double) $arr.getFloat($idx)"
        else s"$arr.getDouble($idx)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = ${get(a, left, i)};
         |    double $yv = ${get(b, right, i)};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two float/double-array columns in ONE codegen'd
  * pass, via the dot identity (x·x − 2 x·y) + y·y — the exact association
  * the DuckDB oracle writes, with each accumulator folded sequentially in
  * index order, so results are bit-identical to three separate HOF dots
  * (`VectorOps.dot`). NULL on length mismatch, like [[CosineSim]].
  * Replaces the interpreted zip_with/aggregate formulation on the ANN
  * scoring path (s5's probe×candidate asymmetric-distance loop).
  */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_sq"
  override def nullable: Boolean = true
  override def foldable: Boolean = left.foldable && right.foldable

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> arguments, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else {
      val n = x.numElements()
      val lf = elemType(left) == FloatType
      val rf = elemType(right) == FloatType
      var xx = 0.0; var xy = 0.0; var yy = 0.0
      var i = 0
      while (i < n) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        xx += xv * xv; xy += xv * yv; yy += yv * yv
        i += 1
      }
      xx - 2.0 * xy + yy
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xx = ctx.freshName("xx")
      val xy = ctx.freshName("xy")
      val yy = ctx.freshName("yy")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      def get(arr: String, e: Expression, idx: String) =
        if (elemType(e) == FloatType) s"(double) $arr.getFloat($idx)"
        else s"$arr.getDouble($idx)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $xx = 0.0, $xy = 0.0, $yy = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = ${get(a, left, i)};
         |    double $yv = ${get(b, right, i)};
         |    $xx += $xv * $xv; $xy += $xv * $yv; $yy += $yv * $yv;
         |  }
         |  ${ev.value} = $xx - 2.0 * $xy + $yy;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Sq =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize an array<float|double> column to unit length in ONE pass:
  * norm accumulates sequentially (index order — the fold `VectorOps.dot`
  * and DuckDB's list_dot_product perform), then each element divides by
  * it. Replaces `transform(e0, x => x / norm(e0))`, which is quadratic:
  * the optimizer's CollapseProject inlines a hoisted norm column back
  * into the lambda (its static reference count is 1), and an interpreted
  * HOF body re-evaluates the whole norm aggregate once PER ELEMENT.
  * A zero vector yields NaN elements, any null element nulls the whole
  * output array — both exactly the HOF formulation's semantics.
  */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "l2_normalize"
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<float|double> argument, got ${t.catalogString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    L2Normalize.normalize(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.L2Normalize.normalize($a, $isFloat);")

  override protected def withNewChildInternal(c: Expression): L2Normalize =
    copy(child = c)
}

object L2Normalize {
  /** Static entry shared by the interpreted and generated paths. */
  def normalize(x: ArrayData, isFloat: Boolean): ArrayData = {
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) {
        // HOF parity: one null element nulls the norm, so every output
        // element is null
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](n))
      }
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < n) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      ss += v * v
      i += 1
    }
    val nrm = math.sqrt(ss)
    val out = new Array[Double](n)
    i = 0
    while (i < n) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = v / nrm
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Sign-random-projection LSH bucket of an embedding column: for each
  * hyperplane row of `planes`, the sign of the dot product contributes one
  * bit; the packed bit pattern is the bucket id.
  *
  * One fused loop over planes×dim per row (codegen'd, matrix shipped once
  * per task via a reference object) — replaces numPlanes separate
  * zip_with+aggregate HOF dots, whose generated code grows with dim
  * (64 array literals per plane) and whose lambda dispatch runs per
  * element. Accumulation is index-order, matching the HOF formulation.
  */
case class SrpBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val f = isFloat
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      val m = math.min(w.length, x.numElements())
      var dot = 0.0
      var j = 0
      while (j < m) {
        dot += w(j) * (if (f) x.getFloat(j).toDouble else x.getDouble(j))
        j += 1
      }
      if (dot > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val mat = ctx.addReferenceObj("srpPlanes", planes, "double[][]")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val w = ctx.freshName("w")
      val dot = ctx.freshName("dot")
      val get = if (isFloat) s"(double) $x.getFloat($j)" else s"$x.getDouble($j)"
      s"""
         |${ev.value} = 0L;
         |for (int $p = 0; $p < $mat.length; $p++) {
         |  double[] $w = $mat[$p];
         |  int $m = java.lang.Math.min($w.length, $x.numElements());
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $dot += $w[$j] * $get;
         |  }
         |  if ($dot > 0) ${ev.value} |= 1L << $p;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SrpBucket =
    copy(child = c)
}

/** Dense matrix-vector projection of an embedding column: one dot product
  * per `planes` row, emitted as an array<double> — the random-projection
  * dimensionality-reduction kernel (Achlioptas ±1 matrices, PCA loadings,
  * learned projections alike).
  *
  * Same fused codegen'd loop as [[SrpBucket]] (which keeps only the sign
  * bit); accumulation is index-order, so each output element is
  * bit-identical to DuckDB's `list_dot_product(x, plane_row)` and results
  * replay exactly in the oracle.
  */
case class ProjectVec(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "project_vec"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val f = isFloat
    val out = new Array[Double](planes.length)
    var p = 0
    while (p < planes.length) {
      val w = planes(p)
      val m = math.min(w.length, x.numElements())
      var dot = 0.0
      var j = 0
      while (j < m) {
        dot += w(j) * (if (f) x.getFloat(j).toDouble else x.getDouble(j))
        j += 1
      }
      out(p) = dot
      p += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val mat = ctx.addReferenceObj("projPlanes", planes, "double[][]")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val w = ctx.freshName("w")
      val dot = ctx.freshName("dot")
      val out = ctx.freshName("out")
      val get = if (isFloat) s"(double) $x.getFloat($j)" else s"$x.getDouble($j)"
      s"""
         |double[] $out = new double[$mat.length];
         |for (int $p = 0; $p < $mat.length; $p++) {
         |  double[] $w = $mat[$p];
         |  int $m = java.lang.Math.min($w.length, $x.numElements());
         |  double $dot = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $dot += $w[$j] * $get;
         |  }
         |  $out[$p] = $dot;
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): ProjectVec =
    copy(child = c)
}

/** Karp-Rabin rolling polynomial fingerprint of a string: fold over UTF-8
  * bytes, h = (h * 256 + byte) mod (2^31 - 1). The content-defined-chunking
  * primitive for document fingerprinting at scale; deterministic and cheap
  * (single pass, no allocation).
  */
case class KarpRabin(child: Expression) extends UnaryExpression {
  private val P = 2147483647L

  override def dataType: DataType = LongType
  override def prettyName: String = "kr_fingerprint"
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 256 + (bytes(i) & 0xff)) % P
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 256 + ($bytes[$i] & 0xff)) % ${P}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): KarpRabin =
    copy(child = c)
}

/** Column-level and SQL-level exposure of the custom expressions. */
/** Unicode canonical composition (NFC) — the normalization pass every
  * text-cleaning pipeline runs before hashing/dedup so that visually
  * identical strings ("é" precomposed vs "e"+U+0301) hash identically.
  * Codegen'd wrapper over `java.text.Normalizer` with an ASCII fast path
  * (`isNormalized` is O(n) and true for all-ASCII, which is the bulk of
  * real corpora — the allocation-free common case). NFC is a Unicode
  * standard algorithm, so results replay in DuckDB's `nfc_normalize`.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def foldable: Boolean = child.foldable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.normalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.NfcNormalize.normalize($s);")

  override protected def withNewChildInternal(c: Expression): NfcNormalize =
    copy(child = c)
}

object NfcNormalize {
  /** Static entry shared by the interpreted and generated paths. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object GraftFunctions {

  def cosineSim(a: Column, b: Column): Column =
    graftbridge.column(
      CosineSim(graftbridge.expression(a), graftbridge.expression(b)))

  def l2Sq(a: Column, b: Column): Column =
    graftbridge.column(
      L2Sq(graftbridge.expression(a), graftbridge.expression(b)))

  def l2Normalize(c: Column): Column =
    graftbridge.column(L2Normalize(graftbridge.expression(c)))

  def krFingerprint(c: Column): Column =
    graftbridge.column(KarpRabin(graftbridge.expression(c)))

  def projectVec(c: Column, planes: Array[Array[Double]]): Column =
    graftbridge.column(ProjectVec(graftbridge.expression(c), planes))

  def nfcNormalize(c: Column): Column =
    graftbridge.column(NfcNormalize(graftbridge.expression(c)))

  /** Spark's internal runtime-filter bloom machinery, surfaced as user
    * columns: build a bloom filter over xxhash64 values of the build side
    * (binary sketch, mergeable partial agg) and probe it on the stream
    * side — the semi-join reduction pattern: a cheap prefilter drops most
    * non-matching rows before the exact join (bloom false positives are
    * then removed by the join, so results stay exact).
    */
  def bloomAgg(hash: Column, expectedItems: Long = 100000L): Column =
    graftbridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(graftbridge.expression(hash), expectedItems)
        .toAggregateExpression())

  def mightContain(bloom: Column, hash: Column): Column =
    graftbridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        graftbridge.expression(bloom), graftbridge.expression(hash)))

  /** Evaluate a foldable int argument at registration time (sketch widths
    * and k's are structural parameters, not per-row data).
    */
  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (exprs => CosineSim(exprs(0), exprs(1))),
    "l2_sq" -> (exprs => L2Sq(exprs(0), exprs(1))),
    "l2_normalize" -> (exprs => L2Normalize(exprs.head)),
    "kr_fingerprint" -> (exprs => KarpRabin(exprs.head)),
    "md5_pack" -> (exprs => Md5Pack(exprs.head)),
    "shingles_of" -> (exprs =>
      ShinglesOf(exprs(0), intArg(exprs(1), "shingles_of width"))),
    "minhash_of" -> (exprs =>
      MinHashOf(exprs(0), intArg(exprs(1), "minhash_of k"))),
    // simhash_of(tokens) hashes with xxhash64; simhash_of(tokens, 1)
    // selects the md5-pack oracle hash (SketchOps.HashMd5Pack).
    "simhash_of" -> (exprs =>
      SimHashOf(exprs(0),
        if (exprs.length > 1) {
          val kind = intArg(exprs(1), "simhash_of hash kind")
          require(kind == SketchOps.HashXx64 || kind == SketchOps.HashMd5Pack,
            s"simhash_of hash kind must be ${SketchOps.HashXx64} (xxhash64) " +
              s"or ${SketchOps.HashMd5Pack} (md5 pack), got $kind")
          kind
        } else SketchOps.HashXx64)),
    "rep_stats_of" -> (exprs => RepStatsOf(exprs.head)),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs.head)),
    "damerau_levenshtein" -> (exprs =>
      DamerauLevenshtein(exprs(0), exprs(1))),
  )

  /** Retrofit the functions onto an existing session (SQL-callable). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
}

/** Catalyst optimizer rule: NFC normalization is idempotent by the
  * Unicode standard, so nested applications collapse to one — the kind
  * of domain rewrite that composition of cleaning stages produces
  * naturally (each stage defensively normalizes its input). Injected via
  * [[GraftExtensions]]; the engine's demonstration that extensibility
  * here means real `Rule[LogicalPlan]` participation in optimization,
  * not just function registration.
  */
object NfcIdempotence
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    plan.transformAllExpressions {
      case NfcNormalize(inner @ NfcNormalize(_)) => inner
    }
}

/** SparkSessionExtensions entry point: every [[graft.GraftSession]]
  * installs it; other sessions set
  * spark.sql.extensions=graft.functions.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        b))
    }
    ext.injectOptimizerRule(_ => NfcIdempotence)
    // Whole-operator rung of the extensibility ladder: the native as-of
    // join's planner strategy (custom LogicalPlan -> custom SparkPlan).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
