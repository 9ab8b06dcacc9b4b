package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Bloom-filter membership over a gram ARRAY — true iff any
  * element's k probe bits are all set (`exists` fused into the probe).
  *
  * Exists/transform are `HigherOrderFunction`s, which Spark evaluates as
  * CodegenFallback — per GRAM the interpreted 16-position expression tree
  * dominated p21/p22's wall clock. This expression walks the array in one
  * compiled pass: per gram the h1 draw picks the shard and [[BloomContainsAny
  * .testOrSet]] walks its k positions — the same arithmetic the build's
  * [[BloomBitsAgg]] sets, so the probe can never drift from the index.
  *
  * The filter is `shards.length` independent sub-filters of `mBits` bits
  * each (the past-2³⁰-bits scale path splits the reference set by a
  * per-gram hash draw, so no single bit array or builder buffer exceeds
  * ~2³⁰ bits); a plain filter is one shard. Per gram exactly ONE shard is
  * probed, so the probe costs the one-shard walk plus one 64-bit hash.
  *
  * The bits ride as a codegen REFERENCE OBJECT (ctx.addReferenceObj), not
  * a literal: one deserialized long[][] per task, shared across rows. */
case class BloomContainsAny(child: Expression, shards: Array[Array[Long]],
                            mBits: Int, k: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains_any"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_contains_any expects array<string>, got $other")
    }

  override def nullSafeEval(arr: Any): Any =
    BloomContainsAny.compute(arr.asInstanceOf[ArrayData], shards, mBits, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val shardsRef = ctx.addReferenceObj("bloomShards", shards, "long[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.BloomContainsAny.compute($a, $shardsRef, $mBits, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomContainsAny {
  /** Seed constant of the second hash draw (`xxhash64(gram,
    * lit(0x9E3779B9))`'s arithmetic: seed 42, then a chained hashLong) —
    * must equal the literal of the Column reference build the specs pin
    * the filter against. */
  final val H2Seed = 0x9E3779B9L

  /** Seed of the shard-selection draw (64-bit golden ratio — a constant
    * distinct from every other seed in the engine). */
  final val ShardSeed = 0x9E3779B97F4A7C15L

  /** `xxhash64(gram)`: seed 42, bytes folded once — the draw both the
    * shard and the k positions hang off. */
  def h1(s: UTF8String): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  /** The gram's shard. The shard draw hashes h1 again with [[ShardSeed]]
    * rather than reusing `h1 mod nShards`: both m and nShards are powers
    * of two, so reusing h1 would correlate the shard index with the low
    * bits of the first probe position and skew each shard's occupied
    * positions. One shard skips the draw. */
  def shardOf(h1: Long, nShards: Int): Int =
    if (nShards == 1) 0
    else java.lang.Math.floorMod(XXH64.hashLong(ShardSeed, h1), nShards.toLong).toInt

  /** The gram's k positions in one shard's `bits` (Kirsch–Mitzenmacher:
    * `h1 + j·(2·h2+1)` mod m; the odd multiplier keeps the stride
    * nonzero, and both hashes are reduced mod m before the affine
    * combine so nothing overflows). True iff all k bits are set, stopping
    * at the first clear one; with `set` the bits are set first (the
    * build), so the answer is true. Allocation-free: the probe and the
    * build run it once per gram. */
  def testOrSet(h1: Long, bits: Array[Long], m: Int, k: Int, set: Boolean): Boolean = {
    val mL = m.toLong
    val h1m = java.lang.Math.floorMod(h1, mL)
    val stride = java.lang.Math.floorMod(XXH64.hashLong(H2Seed, h1), mL) * 2L + 1L
    var j = 0
    while (j < k) {
      val pos = ((h1m + j * stride) % mL).toInt
      val mask = 1L << (pos & 63)
      if (set) bits(pos >>> 6) |= mask
      else if ((bits(pos >>> 6) & mask) == 0L) return false
      j += 1
    }
    true
  }

  def compute(arr: ArrayData, shards: Array[Array[Long]], m: Int, k: Int): Boolean = {
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = h1(arr.getUTF8String(i))
        if (testOrSet(h, shards(shardOf(h, shards.length)), m, k, set = false)) return true
      }
      i += 1
    }
    false
  }
}
