package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}

/** Bounded Bloom filter over bigint hashes — the distributed
  * runtime-filter primitive. `bloom_agg(h, mBits, k)` builds an
  * m-bit / k-probe filter as an aggregate (fixed O(m/8) state, merge =
  * bitwise OR, so ANY partitioning and merge order yields the
  * identical filter); `bloom_might_contain(bloom, h)` probes it with
  * zero false negatives.
  *
  * The pattern this enables at 100 TB: aggregate the SMALL side of a
  * semi-join into one ~100 KB value, broadcast it, and drop the
  * overwhelming majority of the BIG side's rows before the shuffle or
  * even the broadcast-hash probe the exact join would pay. Because a
  * Bloom filter admits false positives but never false negatives,
  * following the prefilter with the exact join keeps results
  * bit-identical to the unfiltered plan — which is how
  * `text_bloom_decon` stays oracle-exact while exercising the sketch
  * path.
  *
  * The filter value is a self-describing `array<bigint>` —
  * `[mBits, k, words...]` — NOT binary, for a per-row-cost reason
  * worth recording: a probe inside a join condition or filter extracts
  * the filter from its (broadcast) row for every stream row, and
  * `UnsafeRow.getBinary` COPIES the payload each time (~128 KB × every
  * corpus row — measured 30 s of pure memcpy at sf0.1), while
  * `getArray` returns a zero-copy UnsafeArrayData view over the row
  * buffer, making each probe O(k) word reads regardless of filter
  * size.
  *
  * Probe positions use Kirsch–Mitzenmacher double hashing over a
  * splitmix64-finalized input: position_i = (h1 + i*h2) mod m with h2
  * forced odd.
  */
object Bloom {
  /** splitmix64 finalizer — full-avalanche mix of a 64-bit value. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def set(words: Array[Long], mBits: Int, k: Int, v: Long): Unit = {
    val h1 = mix(v)
    val h2 = mix(v ^ 0xA5A5A5A5A5A5A5A5L) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
  }

  /** Probe a self-describing [m, k, words...] filter held as Spark
    * ArrayData. Static and JVM-hot: the codegen path calls this
    * directly inside whole-stage codegen; reads are positional
    * getLongs on the (possibly Unsafe, zero-copy) array view. */
  def mightContain(arr: ArrayData, v: Long): Boolean = {
    val mBits = arr.getLong(0)
    val k = arr.getLong(1).toInt
    val h1 = mix(v)
    val h2 = mix(v ^ 0xA5A5A5A5A5A5A5A5L) | 1L
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits).toInt
      if ((arr.getLong(2 + (bit >>> 6)) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  def bloom_agg(c: Column, mBits: Int, k: Int): Column =
    Bridge.column(BloomAgg(Bridge.expression(c), mBits, k)
      .toAggregateExpression())

  def bloom_might_contain(bloom: Column, h: Column): Column =
    Bridge.column(
      BloomMightContain(Bridge.expression(bloom), Bridge.expression(h)))
}

/** Aggregate: OR-mergeable m-bit Bloom filter of the child bigint
  * column, emitted as the self-describing `array<bigint>`
  * [mBits, k, words...]. State is a fixed long[2 + ceil(m/64)]
  * regardless of input cardinality (header carried in the buffer so
  * eval/serialize are allocation-free copies).
  */
case class BloomAgg(
    child: Expression,
    mBits: Int,
    numHash: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(mBits > 0 && mBits % 64 == 0,
    s"bloom_agg needs mBits > 0 divisible by 64, got $mBits")
  require(numHash > 0 && numHash <= 16,
    s"bloom_agg needs 1..16 hash probes, got $numHash")

  override def createAggregationBuffer(): Array[Long] = {
    val buf = new Array[Long](2 + mBits / 64)
    buf(0) = mBits.toLong
    buf(1) = numHash.toLong
    buf
  }

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val h1 = Bloom.mix(h)
      val h2 = Bloom.mix(h ^ 0xA5A5A5A5A5A5A5A5L) | 1L
      var i = 0
      while (i < numHash) {
        val bit = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits).toInt
        buf(2 + (bit >>> 6)) |= (1L << (bit & 63))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 2
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buf, buf.length))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom_agg requires bigint input, got $other")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** Scalar probe: true iff the bigint MAY be in the [m, k, words...]
  * filter (never false for an inserted value). Codegen delegates to
  * the static [[Bloom.mightContain]] so the probe stays inside
  * whole-stage codegen and reads the array view without copying it.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires (array<bigint>, bigint), got $other")
    }

  override def nullSafeEval(bloom: Any, h: Any): Any =
    Bloom.mightContain(bloom.asInstanceOf[ArrayData], h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) =>
      s"${ev.value} = graft.expressions.Bloom.mightContain($b, $h);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
