package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection (Charikar's 64-bit sketch).
  *
  * Pipeline: token array → per-token 64-bit hash → per-row vote fold into
  * the 64-bit signature ([[graft.functions.SimHashOf]] — a pure map, zero
  * shuffles) → candidate pairs via 16-bit band chunks (documents sharing
  * any chunk value — a shuffle join, never a cross join) → verified by
  * exact Hamming distance (`bit_count(a XOR b)`).
  */
object SimHash {

  private val Bits = 64
  private val ChunkBits = 16
  private val NumChunks = Bits / ChunkBits

  /** (id, simhash) signature per document from a token-array column —
    * tokens hashed and votes folded per ROW by the codegen'd
    * [[graft.functions.SimHashOf]] expression. A pure map: the former
    * explode + groupBy formulation shuffled one row per (doc, token) into
    * the vote aggregation — the whole tokenized corpus crossing the wire
    * to compute a per-doc constant. Empty-token docs yield no signature
    * (same as the exploded form, where they produced no group); the
    * emptiness filter runs on the cheap token array, NOT on
    * isNotNull(simhash) — pushdown would substitute the alias and run
    * the whole hash pass twice.
    *
    * @param hashKind [[graft.functions.SketchOps.HashXx64]] (default,
    *                 fastest) or HashMd5Pack for a 62-bit hash
    *                 reproducible in DuckDB SQL (oracle parity — integer
    *                 vote sums are order-independent, so the signature is
    *                 exactly reproducible).
    * @param nonEmpty predicate equivalent to "tokens is non-empty". The
    *                 default re-evaluates the tokens expression inside
    *                 the filter — fine for a plain split, but when
    *                 `tokens` is itself expensive (e.g. the shingle
    *                 kernel) the caller should pass a CHEAP equivalent
    *                 (word count) so the kernel runs once per row, not
    *                 twice (filter and project are separate codegen
    *                 operators; nothing eliminates the common
    *                 subexpression across them).
    */
  def signatures(docs: DataFrame, idCol: String, tokens: Column,
      hashKind: Int = graft.functions.SketchOps.HashXx64,
      nonEmpty: Option[Column] = None): DataFrame = {
    // Spread single-split inputs across cores before the per-row hashing
    // pass (with no shuffle left in this stage, a one-file table would
    // otherwise hash on one core).
    Partitions.spread(docs)
      .filter(nonEmpty.getOrElse(size(tokens) > 0))
      .select(col(idCol), graft.functions.SimHashOf(
        array_distinct(tokens), hashKind).as("simhash"))
  }

  /** Declarative reference formulation (64 sum(CASE) aggregates) — kept as
    * the semantics oracle for [[signatures]] in tests.
    */
  def signaturesDeclarative(docs: DataFrame, idCol: String,
      tokens: Column, tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val ex = docs.select(col(idCol), explode(array_distinct(tokens)).as("tok"))
    val h = tokenHash(col("tok"))
    val voteAggs = (0 until Bits).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val votes = ex.groupBy(idCol).agg(voteAggs.head, voteAggs.tail: _*)
    val sig = (0 until Bits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** Near-duplicate pairs with Hamming distance <= maxHamming.
    *
    * Chunk banding guarantees FULL recall only for maxHamming < NumChunks
    * (pigeonhole: a pair within distance 3 shares at least one of 4 chunks
    * intact); larger thresholds are best-effort over band collisions.
    * `maxBucket` caps degenerate chunk buckets — the skew guard that keeps
    * the self-join bounded at scale.
    */
  def nearDuplicates(docs: DataFrame, idCol: String, tokens: Column,
      maxHamming: Int = 3, maxBucket: Int = 1000,
      hashKind: Int = graft.functions.SketchOps.HashXx64,
      nonEmpty: Option[Column] = None): DataFrame = {
    val sig = signatures(docs, idCol, tokens, hashKind, nonEmpty)
    val chunks = sig.select(col(idCol).as("id"), col("simhash"),
      explode(array((0 until NumChunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * ChunkBits)
            .bitwiseAND(lit((1L << ChunkBits) - 1)).as("cv"))): _*)).as("ch"))
      .select(col("id"), col("simhash"),
        col("ch.chunk").as("chunk"), col("ch.cv").as("cv"))
    BucketedPairs.pairs(chunks, Seq("chunk", "cv"),
        struct(col("id"), col("simhash")), maxBucket)
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
