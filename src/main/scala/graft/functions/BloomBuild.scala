package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter BUILD as one imperative aggregate: each task ORs its
  * grams' k probe bits into a local `long[mBits/64]` buffer (classic
  * map-side partial aggregation — what `df.stat.bloomFilter` does
  * internally), partials merge by array OR, and the final value is the
  * bit array as ONE binary row, so the driver collect is bounded by the
  * FILTER SIZE, never the reference set.
  *
  * Replaces the round-11 build shape — `explode(array(k position
  * exprs))` → `(word, bit_or)` hash aggregate — which fanned every gram
  * into k=16 rows, re-derived both XXH64 draws inside each of the 16
  * position expressions (no cross-element subexpression elimination in
  * an `array(...)` literal), and hash-aggregated 16n rows into up to
  * m/64 groups. Here both hashes are drawn ONCE per gram and the k
  * strides are pure arithmetic — the probe's own walk
  * ([[BloomContainsAny.testOrSet]]), pinned by Round12Spec against the
  * Column reference build.
  *
  * Buffer lifecycle: one `long[mBits/64]` per (task × group). Flat
  * aggregation (no grouping) holds exactly one buffer per task; the
  * sharded build groups by a shard key, so callers repartition by shard
  * first when nShards × mBits/8 would crowd executor memory.
  */
case class BloomBitsAgg(child: Expression, mBits: Int, k: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(mBits > 0 && mBits % 64 == 0,
    s"mBits must be a positive multiple of 64, got $mBits")
  require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_bits_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      // the probe's own walk, writing instead of testing
      BloomContainsAny.testOrSet(
        BloomContainsAny.h1(v.asInstanceOf[UTF8String]), buf, mBits, k, set = true)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomBitsAgg.toBytes(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = BloomBitsAgg.toBytes(buf)

  override def deserialize(bytes: Array[Byte]): Array[Long] = BloomBitsAgg.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBitsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBitsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBitsAgg =
    copy(child = newChild)
}

object BloomBitsAgg {

  def toBytes(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().put(buf)
    bytes
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }

  def bloomBitsAgg(gram: Column, mBits: Int, k: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      BloomBitsAgg(GraftColumnBridge.expression(gram), mBits, k)
        .toAggregateExpression())
  }
}

/** Build-side shard selector: [[BloomContainsAny.shardOf]] of the gram's
  * h1 as one codegen'd scalar, guaranteed to agree with the probe's draw. */
case class ShardOfGram(child: Expression, nShards: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "shard_of_gram"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shard_of_gram expects string, got $other")
    }

  override def nullSafeEval(s: Any): Any =
    BloomContainsAny.shardOf(BloomContainsAny.h1(s.asInstanceOf[UTF8String]), nShards)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.BloomContainsAny.shardOf(" +
        s"graft.functions.BloomContainsAny.h1($s), $nShards);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
