package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression for PQ encoding: the full m×k argmin over
  * trained codebooks in ONE fused codegen loop.
  *
  * The composed formulation ([[graft.operators.Pq.Codebooks.encode]]'s former
  * shape — per subspace an `array_min` over k literal `(cost, code)`
  * structs, each cost a dot product) unrolls to m·k expression trees: at
  * m = k = 16 the generated projection method passed 10k lines, hit
  * Janino's 64 KB method limit, and silently dropped the ENTIRE encode
  * stage out of whole-stage codegen into the interpreter — the
  * corpus-sized path of index builds. This expression generates ~40
  * lines regardless of m/k/dim: the codebooks ride along as one flat
  * `double[]` reference object (bounded driver state, exactly the
  * literal matrix the old form baked into the plan), and the argmin is
  * three nested primitive loops.
  *
  * Semantics are IDENTICAL to the composed form on well-formed input:
  * per subspace, argmin_j (‖c_j‖² − 2·dot(sub, c_j)/‖v‖), ties broken
  * toward the smaller j (the struct-ordering tiebreak), `‖v‖ = 0`
  * guarded to 1. A vector of the wrong length or with null elements
  * encodes to null (the composed form produced ill-defined nulled
  * structs there; this pins the sane answer).
  */
case class PqEncode(child: Expression, m: Int, k: Int, subDim: Int,
                    flatCents: IndexedSeq[Double])
    extends UnaryExpression {
  require(m > 0 && k > 0 && subDim > 0 &&
    flatCents.length == m * k * subDim,
    s"flatCents length ${flatCents.length} != m*k*subDim = ${m * k * subDim}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<double>, got ${t.catalogString}")
  }

  private def elemsNullable: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  @transient private lazy val cents: Array[Double] = flatCents.toArray

  /** ‖c_j‖² per (subspace, centroid), precomputed once. */
  @transient private lazy val cNorm2: Array[Double] = {
    val out = new Array[Double](m * k)
    var c = 0
    while (c < m * k) {
      var s = 0.0
      var t = 0
      while (t < subDim) { s += cents(c * subDim + t) * cents(c * subDim + t); t += 1 }
      out(c) = s
      c += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = m * subDim
    if (v.numElements() != dim) return null
    var i = 0
    if (elemsNullable) {
      while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    }
    var norm2 = 0.0
    i = 0
    while (i < dim) { val x = v.getDouble(i); norm2 += x * x; i += 1 }
    val nrm = math.sqrt(norm2)
    val safe = if (nrm == 0.0) 1.0 else nrm
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = Double.PositiveInfinity
      var bj = 0
      var j = 0
      while (j < k) {
        var dot = 0.0
        val base = (mi * k + j) * subDim
        val voff = mi * subDim
        var t = 0
        while (t < subDim) { dot += v.getDouble(voff + t) * cents(base + t); t += 1 }
        val cost = cNorm2(mi * k + j) - 2.0 * dot / safe
        if (cost < best) { best = cost; bj = j }
        j += 1
      }
      codes(mi) = bj
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(codes)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("pqCents", cents, "double[]")
      val nRef = ctx.addReferenceObj("pqCNorm2", cNorm2, "double[]")
      val i = ctx.freshName("i")
      val mi = ctx.freshName("mi")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val norm2 = ctx.freshName("norm2")
      val safe = ctx.freshName("safe")
      val codes = ctx.freshName("codes")
      val best = ctx.freshName("best")
      val bj = ctx.freshName("bj")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      val voff = ctx.freshName("voff")
      val x = ctx.freshName("x")
      val cost = ctx.freshName("cost")
      val nullElemCheck =
        if (elemsNullable)
          s"""for (int $i = 0; $i < ${m * subDim}; $i++) {
             |  if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
             |}""".stripMargin
        else ""
      s"""
         |if ($v.numElements() != ${m * subDim}) {
         |  ${ev.isNull} = true;
         |} else {
         |  $nullElemCheck
         |  if (!${ev.isNull}) {
         |    double $norm2 = 0.0;
         |    for (int $i = 0; $i < ${m * subDim}; $i++) {
         |      double $x = $v.getDouble($i);
         |      $norm2 += $x * $x;
         |    }
         |    double $safe = Math.sqrt($norm2);
         |    if ($safe == 0.0) $safe = 1.0;
         |    int[] $codes = new int[$m];
         |    for (int $mi = 0; $mi < $m; $mi++) {
         |      double $best = Double.POSITIVE_INFINITY;
         |      int $bj = 0;
         |      int $voff = $mi * $subDim;
         |      for (int $j = 0; $j < $k; $j++) {
         |        double $dot = 0.0;
         |        int $base = ($mi * $k + $j) * $subDim;
         |        for (int $t = 0; $t < $subDim; $t++) {
         |          $dot += $v.getDouble($voff + $t) * $cRef[$base + $t];
         |        }
         |        double $cost = $nRef[$mi * $k + $j] - 2.0 * $dot / $safe;
         |        if ($cost < $best) { $best = $cost; $bj = $j; }
         |      }
         |      $codes[$mi] = $bj;
         |    }
         |    ${ev.value} = org.apache.spark.sql.catalyst.expressions
         |      .UnsafeArrayData.fromPrimitiveArray($codes);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): PqEncode = copy(child = newChild)
}

/** Native companion of [[PqEncode]] for the query side: the per-row ADC
  * lookup tables (m arrays of k doubles, `dot(sub_mi, c_j)/‖v‖`) as one
  * fused expression. The composed form (m×k `vectordot` calls against
  * literal centroids, each repeating the norm guard) kept the QUERY
  * projection out of whole-stage codegen through the same 64 KB method
  * blowup as the encode side — a small frame, but it disabled codegen
  * for the enclosing stage (the broadcast build of every batched ADC
  * join). Same null pinning as [[PqEncode]]: wrong length or null
  * elements → null row.
  */
case class PqAdcTables(child: Expression, m: Int, k: Int, subDim: Int,
                       flatCents: IndexedSeq[Double])
    extends UnaryExpression {
  require(m > 0 && k > 0 && subDim > 0 &&
    flatCents.length == m * k * subDim,
    s"flatCents length ${flatCents.length} != m*k*subDim = ${m * k * subDim}")

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false),
      containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_tables requires array<double>, got ${t.catalogString}")
  }

  private def elemsNullable: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  @transient private lazy val cents: Array[Double] = flatCents.toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = m * subDim
    if (v.numElements() != dim) return null
    var i = 0
    if (elemsNullable) {
      while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    }
    var norm2 = 0.0
    i = 0
    while (i < dim) { val x = v.getDouble(i); norm2 += x * x; i += 1 }
    val nrm = math.sqrt(norm2)
    val safe = if (nrm == 0.0) 1.0 else nrm
    val rows = new Array[ArrayData](m)
    var mi = 0
    while (mi < m) {
      val row = new Array[Double](k)
      var j = 0
      while (j < k) {
        var dot = 0.0
        val base = (mi * k + j) * subDim
        val voff = mi * subDim
        var t = 0
        while (t < subDim) { dot += v.getDouble(voff + t) * cents(base + t); t += 1 }
        row(j) = dot / safe
        j += 1
      }
      rows(mi) = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(row)
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      rows.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cRef = ctx.addReferenceObj("adcCents", cents, "double[]")
      val i = ctx.freshName("i")
      val mi = ctx.freshName("mi")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val norm2 = ctx.freshName("norm2")
      val safe = ctx.freshName("safe")
      val rows = ctx.freshName("rows")
      val row = ctx.freshName("row")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      val voff = ctx.freshName("voff")
      val x = ctx.freshName("x")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      val nullElemCheck =
        if (elemsNullable)
          s"""for (int $i = 0; $i < ${m * subDim}; $i++) {
             |  if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
             |}""".stripMargin
        else ""
      s"""
         |if ($v.numElements() != ${m * subDim}) {
         |  ${ev.isNull} = true;
         |} else {
         |  $nullElemCheck
         |  if (!${ev.isNull}) {
         |    double $norm2 = 0.0;
         |    for (int $i = 0; $i < ${m * subDim}; $i++) {
         |      double $x = $v.getDouble($i);
         |      $norm2 += $x * $x;
         |    }
         |    double $safe = Math.sqrt($norm2);
         |    if ($safe == 0.0) $safe = 1.0;
         |    $ad[] $rows = new $ad[$m];
         |    for (int $mi = 0; $mi < $m; $mi++) {
         |      double[] $row = new double[$k];
         |      int $voff = $mi * $subDim;
         |      for (int $j = 0; $j < $k; $j++) {
         |        double $dot = 0.0;
         |        int $base = ($mi * $k + $j) * $subDim;
         |        for (int $t = 0; $t < $subDim; $t++) {
         |          $dot += $v.getDouble($voff + $t) * $cRef[$base + $t];
         |        }
         |        $row[$j] = $dot / $safe;
         |      }
         |      $rows[$mi] = org.apache.spark.sql.catalyst.expressions
         |        .UnsafeArrayData.fromPrimitiveArray($row);
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util
         |      .GenericArrayData((Object[]) $rows);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): PqAdcTables = copy(child = newChild)
}

object PqEncodeExpr {
  /** PQ codes (m ints) for an `array<double>` vector column, fully
    * codegen'd against flat codebooks `cents(mi)(j)(t)`. */
  def pqEncode(vec: Column, cents: Seq[Seq[Seq[Double]]]): Column = {
    val m = cents.length
    require(m > 0, "empty codebooks")
    val k = cents.head.length
    val subDim = cents.head.head.length
    require(cents.forall(ck => ck.length == k &&
      ck.forall(_.length == subDim)), "ragged codebooks")
    val flat = cents.flatMap(_.flatMap(_.toIndexedSeq)).toIndexedSeq
    GraftBridge.column(PqEncode(GraftBridge.expression(vec), m, k, subDim,
      flat))
  }

  /** Per-row ADC tables (m arrays of k doubles) for an `array<double>`
    * vector column, fully codegen'd against the same flat codebooks. */
  def pqAdcTables(vec: Column, cents: Seq[Seq[Seq[Double]]]): Column = {
    val m = cents.length
    require(m > 0, "empty codebooks")
    val k = cents.head.length
    val subDim = cents.head.head.length
    require(cents.forall(ck => ck.length == k &&
      ck.forall(_.length == subDim)), "ragged codebooks")
    val flat = cents.flatMap(_.flatMap(_.toIndexedSeq)).toIndexedSeq
    GraftBridge.column(PqAdcTables(GraftBridge.expression(vec), m, k,
      subDim, flat))
  }
}
