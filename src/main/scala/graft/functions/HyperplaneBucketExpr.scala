package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH bucket id as one native expression: bit i of the
  * result is sign(v · hᵢ), where hᵢ is a ±1 hyperplane derived from a
  * splitmix64 hash of (seed, i, j) — no stored hyperplane matrix, every
  * executor recomputes it in registers.
  *
  * Replaces the higher-order-function formulation (nBits × zip_with +
  * aggregate, interpreted per element with boxing) with a single fused JVM
  * loop: one pass over the vector accumulates all `nBits` projections.
  * Input must be `array<double>`.
  */
case class HyperplaneBucketExpr(child: Expression, nBits: Int, tableSeed: Int)
    extends UnaryExpression {
  require(nBits > 0 && nBits <= 62)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket requires array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType

  def compute(v: ArrayData): Long = {
    val n = v.numElements()
    val proj = new Array[Double](nBits)
    var j = 0
    while (j < n) {
      val x = v.getDouble(j)
      var i = 0
      while (i < nBits) {
        // splitmix64 of the (seed, i, j) cell — deterministic ±1 sign
        var z = tableSeed.toLong * 0x9e3779b97f4a7c15L +
          (i.toLong * 1048576 + j) * 0xbf58476d1ce4e5b9L
        z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
        z ^= z >>> 27; z *= 0x94d049bb133111ebL
        z ^= z >>> 31
        proj(i) += (if ((z & 1L) == 0L) x else -x)
        i += 1
      }
      j += 1
    }
    var bucket = 0L
    var i = 0
    while (i < nBits) {
      if (proj(i) >= 0) bucket |= 1L << i
      i += 1
    }
    bucket
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hyperplaneBucket", this,
      classOf[HyperplaneBucketExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

object HyperplaneBucketExpr {
  def hyperplaneBucket(v: Column, nBits: Int, tableSeed: Int): Column =
    GraftBridge.column(HyperplaneBucketExpr(
      GraftBridge.expression(v), nBits, tableSeed))

  /** The bucket of one driver-side vector — the same [[compute]] the
    * planned expression runs. */
  def bucketOf(v: Seq[Double], nBits: Int, tableSeed: Int): Long =
    HyperplaneBucketExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        ArrayType(DoubleType)), nBits, tableSeed)
      .compute(new org.apache.spark.sql.catalyst.util.GenericArrayData(
        v.toArray))
}
