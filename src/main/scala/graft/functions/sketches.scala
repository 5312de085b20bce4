package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row sketch kernels shared by the interpreted and codegen'd paths of
  * [[MinHashOf]] / [[SimHashOf]] (a standalone object gets static
  * forwarders, so generated Java calls them directly, like
  * [[Md5Hash.pack]]).
  *
  * These hash every token of a document and fold the hashes into the
  * doc's sketch in ONE fused loop inside the row — the scale-shape
  * alternative to explode + groupBy: the exploded formulation shuffles
  * one row per (doc, token) into an aggregation, i.e. the whole
  * tokenized corpus crosses the wire to compute a per-doc constant-size
  * value. Per-row folding makes the signature stage a pure map — zero
  * shuffles, pipelined into whatever consumes it. (A transform() HOF +
  * fold-expression split was measured 3x slower: higher-order functions
  * are CodegenFallback, so the per-token hash ran interpreted.) Both
  * kernels are order-independent (min / integer vote sums), so results
  * are bit-identical to the aggregate formulation, and the md5 hash kind
  * replays exactly in DuckDB SQL.
  */
object SketchOps {
  private val P = 2147483647L

  /** Token-hash kinds: xxhash64 (Spark-native, fastest — matches
    * xxhash64(col) with its default seed 42, asserted in OperatorsSpec)
    * and the packed-md5 62-bit hash (oracle-reproducible in DuckDB).
    */
  final val HashXx64 = 0
  final val HashMd5Pack = 1

  def hashToken(s: UTF8String, kind: Int): Long =
    if (kind == HashMd5Pack) Md5Hash.pack(s.getBytes)
    else XxHash64Function.hash(s, StringType, 42L)

  private val Space = UTF8String.fromString(" ")
  private val EmptyArr: ArrayData = new GenericArrayData(new Array[Any](0))

  /** Distinct width-w word shingles in first-occurrence order — one JVM
    * loop with an insertion-ordered set. Replaces the
    * transform(sequence(...)) + concat_ws + array_distinct formulation,
    * whose higher-order functions are CodegenFallback: three interpreted
    * element_at calls per shingle dominated the whole dedup pipeline
    * (measured ~70% of d5). Windows shorter than w (and null word
    * arrays) yield an empty set, byte-identical to the declarative form.
    */
  def shingleArr(words: ArrayData, w: Int): ArrayData = {
    val n = words.numElements()
    if (n < w) return EmptyArr
    val set = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](w)
    var i = 0
    while (i <= n - w) {
      var j = 0
      var ok = true
      while (j < w) {
        if (words.isNullAt(i + j)) ok = false
        else parts(j) = words.getUTF8String(i + j)
        j += 1
      }
      if (ok) set.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    new GenericArrayData(
      set.toArray(new Array[UTF8String](set.size())).asInstanceOf[Array[Any]])
  }

  /** Distinct character n-grams of a string (codepoint windows, first-
    * occurrence order) — the unit of Cavnar–Trenkle-style language ID.
    * One fused loop per row for the same reason as [[shingleArr]]: the
    * transform(sequence(...)) + substring formulation runs its lambda
    * interpreted per window. DISTINCT per row means downstream counts
    * are document frequencies, replayed in DuckDB with
    * `SELECT DISTINCT doc_id, substr(s, i, n)` over an unnested range.
    * Strings shorter than n (and NULLs) yield an empty set.
    */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return EmptyArr
    val len = s.numChars()
    if (len < n) return EmptyArr
    val set = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= len) {
      set.add(s.substring(i, i + n))
      i += 1
    }
    new GenericArrayData(
      set.toArray(new Array[UTF8String](set.size())).asInstanceOf[Array[Any]])
  }

  /** k Kirsch–Mitzenmacher minhash values h_i = (h1 + (i+1)·h2) mod p
    * over the [[Md5Hash.pack]]-packed hashes (h1 = top 31 bits, h2 = low
    * 31) of a token array. Null when the array holds no non-null token —
    * mirroring the exploded formulation, where an empty doc produced no
    * group. (md5-only: the KM split is defined on the packed format.)
    */
  def minhash(arr: ArrayData, k: Int): Array[Long] = {
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val p = Md5Hash.pack(arr.getUTF8String(i).getBytes)
        val h1 = p >>> 31
        val h2 = p & 0x7fffffffL
        var j = 0
        while (j < k) {
          val h = (h1 + (j + 1) * h2) % P
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (seen) mins else null
  }

  /** Charikar simhash: per-bit ±1 votes summed over the token hashes,
    * sign bits packed into the 64-bit signature. Null on an empty array
    * (the exploded formulation produced no group for an empty doc).
    */
  def simhash(arr: ArrayData, hashKind: Int): java.lang.Long = {
    val n = arr.numElements()
    val votes = new Array[Long](64)
    var seen = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = hashToken(arr.getUTF8String(i), hashKind)
        var j = 0
        while (j < 64) {
          votes(j) += (((h >>> j) & 1L) * 2) - 1
          j += 1
        }
      }
      i += 1
    }
    if (!seen) return null
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }

  /** Repetition statistics of a token array in one per-row pass:
    * [n_tokens, n_types, rep_tokens, top_bigram_count, n_bigrams] where
    * rep_tokens counts tokens whose type occurs >= 2 times and
    * top_bigram_count is the frequency of the most frequent adjacent
    * bigram (Gopher-style repetition signals). Null elements are skipped
    * and break bigram adjacency. An explode + groupBy formulation would
    * shuffle the whole tokenized corpus twice (token types + bigrams) to
    * compute five per-doc longs; this folds both frequency maps inside
    * the row — a pure map, zero shuffles.
    */
  def repStats(words: ArrayData): Array[Long] = {
    val n = words.numElements()
    val tokFreq = new java.util.HashMap[UTF8String, Long]()
    val bgFreq = new java.util.HashMap[UTF8String, Long]()
    var nTokens = 0L
    var nBigrams = 0L
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) prev = null
      else {
        val w = words.getUTF8String(i)
        nTokens += 1
        tokFreq.merge(w, 1L, (a, b) => a + b)
        if (prev != null) {
          nBigrams += 1
          bgFreq.merge(UTF8String.concatWs(Space, prev, w), 1L, (a, b) => a + b)
        }
        prev = w
      }
      i += 1
    }
    var nTypes = 0L
    var repTokens = 0L
    val it = tokFreq.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      nTypes += 1
      if (c >= 2) repTokens += c
    }
    var topBigram = 0L
    val bit = bgFreq.values().iterator()
    while (bit.hasNext) {
      val c = bit.next()
      if (c > topBigram) topBigram = c
    }
    Array(nTokens, nTypes, repTokens, topBigram, nBigrams)
  }

  /** ALL codepoint n-gram windows of a string, position order, with
    * multiplicity (see [[CharNgramsAllOf]]).
    */
  def charNgramsAll(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return EmptyArr
    val len = s.numChars()
    if (len < n) return EmptyArr
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i + n <= len) {
      out(i) = s.substring(i, i + n)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Merge-walk intersection of two sorted duplicate-free long arrays
    * (see [[SortedLongIntersect]]). Returns ascending order — identical
    * to array_intersect's first-argument order on sorted inputs.
    *
    * Each element read is compared once with the one before it in its
    * array, and an input that is not strictly ascending throws instead of
    * silently losing matches. The walk reads both tails to the end for
    * that: an out-of-order element past the point where the other array
    * ran out can hide a match too ([1, 5, 3] against [3]).
    */
  def sortedIntersect(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val out = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var k = 0
    var x = if (na > 0) a.getLong(0) else 0L
    var y = if (nb > 0) b.getLong(0) else 0L
    while (i < na && j < nb) {
      if (x == y) {
        out(k) = x; k += 1
        i += 1; x = ascendingAt(a, i, x)
        j += 1; y = ascendingAt(b, j, y)
      } else if (x < y) { i += 1; x = ascendingAt(a, i, x) }
      else { j += 1; y = ascendingAt(b, j, y) }
    }
    while (i < na) { i += 1; x = ascendingAt(a, i, x) }
    while (j < nb) { j += 1; y = ascendingAt(b, j, y) }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }

  /** Element `i` of `arr`, which must exceed `prev`, the element before
    * it; `prev` itself once `i` is past the end.
    */
  private def ascendingAt(arr: ArrayData, i: Int, prev: Long): Long =
    if (i >= arr.numElements()) prev
    else {
      val v = arr.getLong(i)
      if (v <= prev) throw new IllegalArgumentException(
        s"sorted_long_intersect: input not strictly ascending at index $i " +
          s"($v after $prev)")
      v
    }
}

/** Distinct width-w word shingles of a word array, first-occurrence
  * order (see [[SketchOps.shingleArr]]). A NULL word array yields an
  * EMPTY shingle set, not null — mirroring the declarative
  * when(n >= 3, ...).otherwise(array()) guard this replaces, so the
  * expression itself is never null.
  */
/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003) in
  * one JVM loop: width-`ngram` word n-grams hash through the portable
  * packed-md5, and each length-`window` window of consecutive hashes
  * contributes its RIGHTMOST minimum as (h, p). Semantics are
  * bit-identical to the declarative transform/aggregate formulation it
  * replaces — whose nested higher-order functions are CodegenFallback
  * and re-dispatch an interpreted lambda per element (measured as
  * d49's dominant cost). Token arrays shorter than ngram + window − 1
  * (no full window) yield an empty result; callers filter those rows
  * anyway.
  */
object WinnowOps {
  private val Space = UTF8String.fromString(" ")
  private val EmptyArr: ArrayData = new GenericArrayData(new Array[Any](0))

  def winnowArr(words: ArrayData, ngram: Int, window: Int): ArrayData = {
    val n = words.numElements()
    if (n < ngram + window - 1) return EmptyArr
    val nh = n - ngram + 1
    val hs = new Array[Long](nh)
    val parts = new Array[UTF8String](ngram)
    var i = 0
    while (i < nh) {
      var j = 0
      while (j < ngram) {
        parts(j) =
          if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        j += 1
      }
      // concatWs skips nulls — same as array_join's default behavior.
      hs(i) = Md5Hash.pack(UTF8String.concatWs(Space, parts: _*).getBytes)
      i += 1
    }
    val nw = nh - window + 1
    val out = new Array[Any](nw)
    var w = 0
    while (w < nw) {
      var bestH = Long.MaxValue
      var bestP = -1
      var p = w
      while (p < w + window) {
        if (hs(p) <= bestH) { bestH = hs(p); bestP = p } // rightmost min
        p += 1
      }
      out(w) = InternalRow(bestH, bestP)
      w += 1
    }
    new GenericArrayData(out)
  }
}

/** Catalyst expression over [[WinnowOps.winnowArr]]: array&lt;string&gt;
  * tokens → array&lt;struct&lt;h: long, p: int&gt;&gt; winnowing prints.
  */
case class WinnowPrints(child: Expression, ngram: Int, window: Int)
    extends UnaryExpression {
  require(ngram > 0 && window > 0, "ngram and window must be positive")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("p", IntegerType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_prints"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WinnowOps.winnowArr(new GenericArrayData(new Array[Any](0)), ngram, window)
    else WinnowOps.winnowArr(v.asInstanceOf[ArrayData], ngram, window)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val empty =
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0])"
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${c.isNull} ? $empty :
            graft.functions.WinnowOps.winnowArr(${c.value}, $ngram, $window);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): WinnowPrints =
    copy(child = c)
}

object WinnowPrints {
  def apply(words: Column, ngram: Int, window: Int): Column =
    graftbridge.column(
      WinnowPrints(graftbridge.expression(words), ngram, window))
}

case class ShinglesOf(child: Expression, width: Int) extends UnaryExpression {
  require(width > 0, "width must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles_of"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) SketchOps.shingleArr(new GenericArrayData(new Array[Any](0)), width)
    else SketchOps.shingleArr(v.asInstanceOf[ArrayData], width)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val empty =
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0])"
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${c.isNull} ? $empty :
            graft.functions.SketchOps.shingleArr(${c.value}, $width);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): ShinglesOf =
    copy(child = c)
}

object ShinglesOf {
  def apply(words: Column, width: Int): Column =
    graftbridge.column(ShinglesOf(graftbridge.expression(words), width))
}

/** array<long> of a row's k minhash values over its token array (packed
  * md5 + Kirsch–Mitzenmacher, see [[SketchOps.minhash]]). NULL for rows
  * with no tokens.
  *
  * NOTE for callers: filter empty-token rows out with a CHEAP predicate
  * (e.g. on the word count) BEFORE this projection, not with
  * isNotNull(minhash_of(...)) after it — predicate pushdown substitutes
  * the alias and evaluates the whole sketch twice (measured 2-3x).
  */
case class MinHashOf(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "k must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_of"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val mins = SketchOps.minhash(v.asInstanceOf[ArrayData], k)
    if (mins == null) null else new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("mins")
      s"""
         |long[] $tmp = graft.functions.SketchOps.minhash($a, $k);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinHashOf =
    copy(child = c)
}

object MinHashOf {
  def apply(tokens: Column, k: Int): Column =
    graftbridge.column(MinHashOf(graftbridge.expression(tokens), k))
}

/** 64-bit simhash signature of a row's token array (see
  * [[SketchOps.simhash]]; hashKind selects xxhash64 or packed md5). NULL
  * for rows with no tokens. Same caller note as [[MinHashOf]]: pre-filter
  * empties cheaply, don't isNotNull the sketch.
  */
case class SimHashOf(child: Expression, hashKind: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_of"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    SketchOps.simhash(v.asInstanceOf[ArrayData], hashKind)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("sig")
      s"""
         |java.lang.Long $tmp =
         |  graft.functions.SketchOps.simhash($a, $hashKind);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimHashOf =
    copy(child = c)
}

object SimHashOf {
  def apply(tokens: Column, hashKind: Int): Column =
    graftbridge.column(SimHashOf(graftbridge.expression(tokens), hashKind))
}

/** array<long> [n_tokens, n_types, rep_tokens, top_bigram_count,
  * n_bigrams] of a row's token array (see [[SketchOps.repStats]]) —
  * the per-row kernel behind the Gopher-style repetition quality
  * signals. Never null: an empty/null token array yields all zeros
  * (callers gate on n_tokens / n_bigrams).
  */
case class RepStatsOf(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rep_stats_of"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val arr =
      if (v == null) new GenericArrayData(new Array[Any](0))
      else v.asInstanceOf[ArrayData]
    new GenericArrayData(SketchOps.repStats(arr))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val empty =
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0])"
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            graft.functions.SketchOps.repStats(
              ${c.isNull} ? $empty : ${c.value}));""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): RepStatsOf =
    copy(child = c)
}

object RepStatsOf {
  def apply(tokens: Column): Column =
    graftbridge.column(RepStatsOf(graftbridge.expression(tokens)))
}

/** Distinct character n-grams of a string (see [[SketchOps.charNgrams]]).
  * NULL and too-short inputs yield an EMPTY array, so the expression is
  * never null and explode() simply drops such rows.
  */
case class CharNgramsOf(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, "n must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams_of"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    SketchOps.charNgrams(
      child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.SketchOps.charNgrams(
            ${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): CharNgramsOf =
    copy(child = c)
}

object CharNgramsOf {
  def apply(s: Column, n: Int): Column =
    graftbridge.column(CharNgramsOf(graftbridge.expression(s), n))
}

/** Intersection of two SORTED, duplicate-free long arrays by a single
  * merge walk — O(|a|+|b|) with zero per-row allocation beyond the
  * result. The built-in array_intersect builds an OpenHashSet per ROW
  * (q372's edge-iterator pays it once per edge over two O(sqrt m)
  * adjacency arrays — measured as the query's dominant stage); when
  * both inputs are ascending the merge walk returns the identical
  * array (array_intersect preserves first-argument order, which for a
  * sorted input is ascending too). Callers must guarantee sortedness
  * and distinctness — outputs of sort_array over distinct members; an
  * input that is not strictly ascending fails the query.
  */
case class SortedLongIntersect(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sorted_long_intersect"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint>, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchOps.sortedIntersect(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SketchOps.sortedIntersect($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedLongIntersect =
    copy(left = l, right = r)
}

object SortedLongIntersect {
  def apply(a: Column, b: Column): Column =
    graftbridge.column(SortedLongIntersect(
      graftbridge.expression(a), graftbridge.expression(b)))
}

/** ALL character n-grams of a string in position order, WITH
  * multiplicity — the language-model counterpart of [[CharNgramsOf]]
  * (which dedups per row and is therefore wrong for frequency LMs).
  * One fused loop per row: the transform(sequence(...)) + substring
  * formulation runs its lambda through the interpreted HOF path per
  * window (t54's corpus bigram extraction measured as the query's
  * dominant map cost). Strings shorter than n (and NULLs via the null-
  * safe wrapper) yield an empty array.
  */
case class CharNgramsAllOf(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, "n must be positive")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams_all_of"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    SketchOps.charNgramsAll(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.SketchOps.charNgramsAll($s, $n)")

  override protected def withNewChildInternal(c: Expression): CharNgramsAllOf =
    copy(child = c)
}

object CharNgramsAllOf {
  def apply(s: Column, n: Int): Column =
    graftbridge.column(CharNgramsAllOf(graftbridge.expression(s), n))
}
