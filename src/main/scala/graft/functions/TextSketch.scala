package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Sketch kernels over a shingle-hash array (the ShingleHashes output),
  * replacing the explode -> hash-aggregate signature shape: the old form
  * ships one row PER SHINGLE into an aggregation (an O(corpus chars)
  * exchange feeding partial/final min/sum buffers); these compute the
  * identical per-document sketch in ONE codegen'd pass over the array —
  * no Generate, no aggregate, no exchange anywhere (guide §2.3/§2.4:
  * shuffle nothing you can compute row-locally). Arithmetic is
  * bit-for-bit the aggregation's: Java Long ops match Spark's
  * `*`/`+`/`%`/`div` on BIGINT (truncating division, dividend-sign
  * remainder), pinned by TextSketchSpec against the exploded SQL form. */
object TextSketch {

  /** Register a MinHashSig under `name`: minima of (h*a+b) % mod (or the
    * pmod-reduced Lsh form when preMod) per document. */
  def registerMinHash(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      params: Seq[(Long, Long)],
      mod: Long,
      preMod: Boolean): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => MinHashSig(exprs.head, params, mod, preMod), "built-in")

  /** Register a SimHashPack under `name`: the `bits`-bit simhash long. */
  def registerSimHash(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      bits: Int): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => SimHashPack(exprs.head, bits), "built-in")
}

/** All `params.length` minhash minima of a hash array in one pass.
  *
  * preMod = false (gate q21/q22/q27/q53 constants): value = (h*a + b) % mod,
  * exactly the aggregation `min((h * a + b) % P)` — including a negative
  * result for negative h (dividend-sign remainder), which the min ordering
  * must see unchanged.
  * preMod = true (Lsh.signatures): value = pmod(pmod(h, mod)*a + b, mod);
  * the inner pmod makes the affine input non-negative, so the outer pmod
  * reduces to plain %.
  *
  * Empty arrays return Long.MaxValue minima; callers filter length >= n
  * first (documents shorter than the shingle width are absent), matching
  * the aggregation form where such docs produce no group. */
case class MinHashSig(child: Expression, params: Seq[(Long, Long)], mod: Long, preMod: Boolean)
    extends UnaryExpression {
  require(params.nonEmpty && mod > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val as: Array[Long] = params.map(_._1).toArray
  private lazy val bs: Array[Long] = params.map(_._2).toArray

  /** Public so generated Java can call it. */
  def sketch(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val k = as.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      val hm = if (preMod) ((h % mod) + mod) % mod else h
      var j = 0
      while (j < k) {
        val v = (hm * as(j) + bs(j)) % mod
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = sketch(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.sketch($s);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = s"minhash_sig_${params.length}"
}

/** Packed `bits`-bit simhash of a hash array in one pass: bit b is set
  * iff the vote sum over all elements of (+1 when (h div 2^b) % 2 = 1
  * else -1) is strictly positive — exactly the exploded
  * `sum(CASE WHEN (h div shiftleft(1, b)) % 2 = 1 ...)` + `sum(bitval)`
  * aggregation pair of gates q23/q36 (Java `/` and `%` on longs are
  * Spark's `div` and `%`: truncate toward zero, dividend-sign remainder). */
case class SimHashPack(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 63)
  override def dataType: DataType = LongType

  /** Public so generated Java can call it. */
  def pack(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < bits) {
        if ((h / (1L << b)) % 2 == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def nullSafeEval(v: Any): Any = pack(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHashPack", this, classOf[SimHashPack].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.pack($s);")
  }

  override protected def withNewChildInternal(c: Expression): SimHashPack = copy(child = c)
  override def prettyName: String = s"simhash_pack_$bits"
}
