package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Bloom-filter build + probe for join pruning.
  *
  * The scale problem this solves: a semi-join of a 100 TB fact side against
  * a key set too large to BROADCAST (so Catalyst picks shuffle-hash or
  * sort-merge) shuffles EVERY fact row — even though only a few percent
  * survive the join. A Bloom filter of the key side is metadata-sized
  * (~1.2 MB per million keys at 1% fpp), rides the task binary like any
  * literal, and filters at the SCAN stage, so only ~selectivity·(1+fpp) of
  * the fact side ever reaches the exchange. False positives are removed by
  * the exact join that follows — the filter changes bytes moved, never
  * results. (Same idea as Spark's runtime bloom-filter injection, but
  * explicit, deterministic, and available to the sync planner's own
  * fetch paths; cf. `Extract.deltaFetch` + the missing-key semi-join in
  * `Apply.changeSet`.)
  *
  * Hashing: double hashing over splitmix64 finalizers of the LongType key
  * (`pos_i = (h1 + i·h2) mod bits`); build aggregate and probe expression
  * share [[BloomUtil]] so there are no false negatives by construction.
  * The build is a [[TypedImperativeAggregate]] whose merge is a bitwise OR
  * — associative and commutative, so partial filters combine map-side and
  * the driver receives exactly `numBits/8` bytes once.
  */
object BloomUtil {

  /** splitmix64 finalizer — the standard 64-bit avalanche mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Set the k probe bits for `key` in a little-endian byte-array bitset. */
  def set(bits: Array[Byte], key: Long, numHashes: Int): Unit = {
    val nbits = bits.length.toLong * 8
    val h1 = mix(key)
    val h2 = mix(key + 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, nbits)
      bits((pos >>> 3).toInt) = (bits((pos >>> 3).toInt) | (1 << (pos & 7).toInt)).toByte
      i += 1
    }
  }

  /** Probe: true iff every probe bit for `key` is set (no false negatives). */
  def mightContain(bits: Array[Byte], key: Long, numHashes: Int): Boolean = {
    val nbits = bits.length.toLong * 8
    val h1 = mix(key)
    val h2 = mix(key + 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, nbits)
      if ((bits((pos >>> 3).toInt) & (1 << (pos & 7).toInt)) == 0) return false
      i += 1
    }
    true
  }

  /** Standard sizing: bits = ceil(−n·ln(p)/ln(2)²) rounded up to a whole
    * number of bytes, k = round(bits/n·ln 2), both clamped to sane floors. */
  def sizing(expectedKeys: Long, fpp: Double): (Int, Int) = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val n = math.max(expectedKeys, 1L).toDouble
    val bits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2)))
    val numBits = (math.max(bits, 64.0).toLong + 7) / 8 * 8
    require(numBits <= Int.MaxValue.toLong, s"bloom too large: $numBits bits")
    val k = math.max(1, math.round(numBits / n * math.log(2)).toInt)
    (numBits.toInt, math.min(k, 16))
  }
}

/** Aggregate a LongType key column into a Bloom filter (BinaryType bitset).
  * Buffer is the byte-array bitset itself; merge ORs — the property that
  * makes the build one scan + one `numBits/8`-byte result per group. */
case class BloomBuildAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]] {

  require(numBits > 0 && numBits % 8 == 0, s"numBits must be a positive multiple of 8: $numBits")
  require(numHashes > 0, s"numHashes must be positive: $numHashes")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](numBits / 8)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) BloomUtil.set(buf, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b1.length) { b1(i) = (b1(i) | b2(i)).toByte; i += 1 }
    b1
  }

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBuildAgg =
    copy(child = newChildren.head)
}

/** `bloom_might_contain(key, bits)` — codegen probe. The bits argument is a
  * literal/foldable binary (the collected filter), so the probe loop stays
  * inside whole-stage codegen at the scan: k mixes + k bit tests per row,
  * no boxing, no join machinery. */
case class BloomMightContain(left: Expression, right: Expression, numHashes: Int)
    extends BinaryExpression {

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType

  override def nullSafeEval(key: Any, bits: Any): Any =
    BloomUtil.mightContain(bits.asInstanceOf[Array[Byte]], key.asInstanceOf[Long], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (key, bits) => {
      val nbits = ctx.freshName("nbits")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val i = ctx.freshName("i")
      val pos = ctx.freshName("pos")
      val ok = ctx.freshName("ok")
      val util = "graft.functions.BloomUtil"
      s"""
        long $nbits = ((long) $bits.length) * 8L;
        long $h1 = $util.mix($key);
        long $h2 = $util.mix($key + 0x9E3779B97F4A7C15L) | 1L;
        boolean $ok = true;
        for (int $i = 0; $i < $numHashes; $i++) {
          long $pos = java.lang.Long.remainderUnsigned($h1 + $i * $h2, $nbits);
          if (($bits[(int)($pos >>> 3)] & (1 << (int)($pos & 7))) == 0) { $ok = false; break; }
        }
        ${ev.value} = $ok;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
