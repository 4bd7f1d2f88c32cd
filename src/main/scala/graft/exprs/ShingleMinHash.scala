package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the MinHash-LSH scan stage.
  *
  * The LSH dedup pipeline is one linear scan computing, per document:
  * shingles → k minhashes → b band buckets. As Scala UDFs those two
  * steps forced the whole scan projection into interpreted mode (and a
  * UDF serialization boundary per row); as native expressions the scan
  * stays inside whole-stage codegen end to end. Semantics are identical
  * to the UDF kernels they replace (graft.pipeline.Dedup), which remain
  * as the references the ScalaTest ground truths compare against.
  */

/** Word w-shingles (order-preserving distinct) of a token array.
  * Tokens fewer than w ⇒ the single joined shingle (possibly ""). */
case class Shingles(child: Expression, w: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_w needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_w"

  override def nullSafeEval(v: Any): Any =
    Shingles.compute(v.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.Shingles.compute($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  def compute(tokens: ArrayData, w: Int): ArrayData = {
    val n = tokens.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (tokens.isNullAt(i)) "" else tokens.getUTF8String(i).toString
      i += 1
    }
    val out =
      if (n < w) Array(UTF8String.fromString(toks.mkString(" ")))
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var s = 0
        while (s <= n - w) {
          val sb = new java.lang.StringBuilder(toks(s))
          var j = 1
          while (j < w) { sb.append(' ').append(toks(s + j)); j += 1 }
          seen.add(sb.toString)
          s += 1
        }
        val arr = new Array[UTF8String](seen.size())
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
        arr
      }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }
}

/** k seeded minhashes of a shingle array, folded into `bands` band
  * buckets, all in one pass — the banding stays fused so the signature
  * is never recomputed per band. */
case class MinHashBands(child: Expression, k: Int, bands: Int) extends UnaryExpression {
  require(k % bands == 0, s"minhash_bands: k=$k must divide into bands=$bands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_bands needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(v: Any): Any =
    MinHashBands.compute(v.asInstanceOf[ArrayData], k, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.exprs.MinHashBands.compute($c, $k, $bands);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  def compute(shingles: ArrayData, k: Int, bands: Int): ArrayData = {
    val rowsPer = k / bands
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var t = 0
    while (t < n) {
      if (!shingles.isNullAt(t)) {
        val s = shingles.getUTF8String(t).toString
        val h0 = scala.util.hashing.MurmurHash3.stringHash(s).toLong
        var i = 0
        while (i < k) {
          // Murmur-style 64-bit finalizer over (h0, seed i) — identical
          // to the UDF kernel so signatures are interchangeable
          var h = h0 ^ (i.toLong * 0x9E3779B97F4A7C15L)
          h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
          h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
          h ^= h >>> 33
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      t += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 1125899906842597L
      var j = b * rowsPer
      while (j < (b + 1) * rowsPer) { acc = acc * 31 + sig(j); j += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }
}
