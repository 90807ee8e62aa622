package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom filter over a string column as a native Catalyst
  * [[TypedImperativeAggregate]] + probe expression — retiring the
  * repo's last dedup-side UDF ([[graft.operators.DedupOps]]'s
  * `df.stat.bloomFilter` + broadcast-closure probe): the sketch now
  * BUILDS inside the aggregation planner (partial bit-arrays OR'd
  * map-side, one buffer per partition over the shuffle — the
  * [[CountMinSketch]] shape) and PROBES as a Catalyst expression, so
  * both halves live in the plan, not in a driver closure.
  *
  * Bit positions reuse [[CountMinSketch.buckets]] verbatim — position
  * i of key x is chained-md5 digest slice i mod `bits` — so the filter
  * is fully DETERMINISTIC (merge = bitwise OR, order-insensitive) and
  * every bit is recomputable in DuckDB via the same
  * [[CountMinSketch.bucketSql]] idiom: the oracle grades the ACTUAL
  * bit set and the ACTUAL membership verdicts (false positives
  * included — they are a deterministic function of the planted keys),
  * not a contract envelope.
  *
  * State is `bits/64` longs per partial buffer regardless of input
  * size. Standard sizing (Bloom 1970): bits ≈ −n·ln p/(ln 2)²,
  * hashes ≈ (bits/n)·ln 2 — [[BloomFilter.sizeFor]]. A 10⁹-key / 1%
  * filter is ~1.2 GB: still one buffer per partition through the
  * aggregate, but past ~10¹⁰ keys a table-backed index join replaces
  * the in-memory filter — the bloom is the cheap pre-gate, not the
  * only gate. */
case class BloomFilterAgg(
    child: Expression,
    bits: Int,
    hashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got " +
          child.dataType.catalogString)
    else if (bits < 64 || bits % 64 != 0)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bits >= 64 and divisible by 64")
    else if (hashes < 1 || hashes > CountMinSketch.MaxDepth)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires 1 <= hashes <= ${CountMinSketch.MaxDepth}")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "bloom_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](bits / 64)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val pos = CountMinSketch.buckets(v.asInstanceOf[UTF8String],
        hashes, bits)
      var i = 0
      while (i < hashes) {
        b(pos(i) >> 6) |= (1L << (pos(i) & 63)); i += 1
      }
    }
    b
  }

  override def merge(b: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) |= other(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = new GenericArrayData(b)

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(b.length * 8)
    b.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): BloomFilterAgg = copy(child = newChild)
}

/** `might_contain(words, key)` for a [[BloomFilterAgg]] bit array —
  * true iff all `hashes` positions of `key` are set. Bits are derived
  * from the array length (`64 · |words|`), so the probe and the build
  * agree by construction when they share the `hashes` literal. Null
  * key or null sketch → null (standard SQL null propagation). */
case class BloomMightContain(left: Expression, right: Expression,
    hashes: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), StringType)
          if hashes >= 1 && hashes <= CountMinSketch.MaxDepth =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<bigint>, string) and " +
          s"1 <= hashes <= ${CountMinSketch.MaxDepth}")
    }

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(sketch: Any, key: Any): Any =
    BloomFilter.probe(sketch.asInstanceOf[ArrayData],
      key.asInstanceOf[UTF8String], hashes)

  // codegen: one static call — the probe stays inside the filter's
  // whole-stage span (the md5 chain is the real per-row cost either
  // way, but a CodegenFallback here would break the scan's span at the
  // gate, the hottest position this expression occupies)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, key) =>
      s"${ev.value} = graft.plans.BloomFilter.probe($sk, $key, $hashes);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomFilter {

  /** The probe kernel — shared by interpreted eval and generated code:
    * true iff all `hashes` chained-md5 positions of `key` are set in
    * the `64·|words|`-bit array. */
  def probe(words: ArrayData, key: UTF8String, hashes: Int): Boolean = {
    val bits = words.numElements() * 64
    if (bits == 0) return false
    val pos = CountMinSketch.buckets(key, hashes, bits)
    var i = 0
    while (i < hashes) {
      if ((words.getLong(pos(i) >> 6) & (1L << (pos(i) & 63))) == 0L)
        return false
      i += 1
    }
    true
  }

  /** Standard Bloom sizing for `n` keys at false-positive rate `p`:
    * (bits rounded up to a word multiple, hash count capped at
    * [[CountMinSketch.MaxDepth]]). */
  def sizeFor(n: Long, p: Double): (Int, Int) = {
    val n1 = math.max(n, 1L)
    val m = math.ceil(-n1 * math.log(p) / (math.log(2) * math.log(2)))
    val bits = (((m.toLong max 64L) + 63L) / 64L * 64L)
      .min(Int.MaxValue.toLong - 63L).toInt
    val k = math.max(1L, math.round(bits.toDouble / n1 * math.log(2)))
      .min(CountMinSketch.MaxDepth.toLong).toInt
    (bits, k)
  }

  val AggFnName = "graft_bloom_agg"
  val ProbeFnName = "graft_bloom_contains"

  private def intOf(fn: String, e: Expression, what: String): Int =
    if (e.foldable) e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn $what must be an integer literal, got $other")
    } else throw new IllegalArgumentException(s"$fn $what must be foldable")

  /** Register (once per session) and return Column-level handles
    * ([[DotProductLong]]'s registry + `call_function` discipline). */
  def bloomAgg(spark: SparkSession)(c: Column, bits: Int,
      hashes: Int): Column = {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(AggFnName)
    if (!registry.functionExists(id))
      registry.createOrReplaceTempFunction(
        AggFnName, exprs => {
          require(exprs.length == 3,
            s"$AggFnName requires (string, bits, hashes)")
          BloomFilterAgg(exprs.head, intOf(AggFnName, exprs(1), "bits"),
            intOf(AggFnName, exprs(2), "hashes"))
        }, "scala_udf")
    call_function(AggFnName, c, lit(bits), lit(hashes))
  }

  def bloomContains(spark: SparkSession)(sketch: Column, key: Column,
      hashes: Int): Column = {
    val registry = spark.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(ProbeFnName)
    if (!registry.functionExists(id))
      registry.createOrReplaceTempFunction(
        ProbeFnName, exprs => {
          require(exprs.length == 3,
            s"$ProbeFnName requires (sketch, key, hashes)")
          BloomMightContain(exprs.head, exprs(1),
            intOf(ProbeFnName, exprs(2), "hashes"))
        }, "scala_udf")
    call_function(ProbeFnName, sketch, key, lit(hashes))
  }
}
