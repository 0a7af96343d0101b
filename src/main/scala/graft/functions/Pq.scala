package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the product-quantization hot path
  * (SURVEY §2.10 discipline: when Column-function composition is the
  * bottleneck, a custom Expression with `doGenCode` is the next rung —
  * before UDFs, never instead of built-ins that already fit).
  *
  * WHY native: the Column formulation of PQ encode/ADC
  * (the test witness `graft.Witness.pqTopK`) leans on higher-order
  * functions (`transform`/`array_sort`/`aggregate`), which evaluate their
  * lambdas INTERPRETED, per element, with intermediate array allocations —
  * measured ~3.6 s for encode+ADC over just 5 k × 64-dim vectors. A naive
  * "flattened" Column rewrite is far worse (65× — subtrees re-evaluate per
  * reference). Generated Java with loop-local
  * accumulators evaluates each value exactly once: measured ~7× faster
  * warm on the same pass, and it participates in whole-stage codegen.
  *
  * Float discipline (the oracle contract): every fold below is the same
  * left-to-right, 0.0-seeded double accumulation as the Column version and
  * the DuckDB `list_reduce(list_prepend(0.0, …))` mirror — the interpreted
  * `eval` and the generated code run the IDENTICAL operation sequence, so
  * results are bit-equal across all three (asserted in VectorSpec, and by
  * v5/v6 hash-exact oracle gates).
  */
object Pq {

  /** `codebooks(j)(c)(d)` = coordinate d of centroid c of subspace j. */
  type Codebooks = Array[Array[Array[Double]]]

  def encode(embedding: Column, codebooks: Codebooks): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(embedding), codebooks))

  def adcCosine(codes: Column, qv: Column, n2q: Column,
      codebooks: Codebooks): Column =
    ColumnBridge.column(PqAdcCosine(ColumnBridge.expression(codes),
      ColumnBridge.expression(qv), ColumnBridge.expression(n2q), codebooks))
}

/** PQ encoding: `array<float>` embedding → `array<long>` of per-subspace
  * nearest-centroid ids (squared-L2 argmin, strict `<` keeps the lowest
  * cid on ties — the oracle's `ORDER BY d ASC, cid`).
  */
case class PqEncode(child: Expression, codebooks: Pq.Codebooks)
    extends UnaryExpression {
  private val m = codebooks.length
  private val ksub = codebooks(0).length
  private val sub = codebooks(0)(0).length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode needs array<float>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val codes = new Array[Long](m)
    var j = 0
    while (j < m) {
      val cbj = codebooks(j)
      var best = 0L
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        val cv = cbj(c)
        var acc = 0.0
        var d = 0
        while (d < sub) {
          val diff = v.getFloat(j * sub + d).toDouble - cv(d)
          acc = acc + diff * diff
          d += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j"); val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val acc = ctx.freshName("acc"); val diff = ctx.freshName("diff")
      s"""
         |long[] $codes = new long[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  long $best = 0L;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; $c < $ksub; $c++) {
         |    double $acc = 0.0;
         |    for (int $d = 0; $d < $sub; $d++) {
         |      double $diff = (double) $input.getFloat($j * $sub + $d) - $cb[$j][$c][$d];
         |      $acc = $acc + $diff * $diff;
         |    }
         |    if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |  }
         |  $codes[$j] = $best;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** ADC approximate cosine from PQ codes: adot = Σ_j dot(q_j, c_{j,code_j}),
  * cn2 = Σ_j ‖c_{j,code_j}‖², result = adot / (√n2q · √cn2) with NULL on a
  * zero denominator (`try_divide` semantics, matching the DuckDB mirror).
  */
case class PqAdcCosine(first: Expression, second: Expression, third: Expression,
    codebooks: Pq.Codebooks) extends TernaryExpression {
  private val m = codebooks.length
  private val sub = codebooks(0)(0).length

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(FloatType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc_cosine needs (array<long>, array<float>, double), got $other")
    }

  override protected def nullSafeEval(codesAny: Any, qvAny: Any, n2qAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val qv = qvAny.asInstanceOf[ArrayData]
    val n2q = n2qAny.asInstanceOf[Double]
    var adot = 0.0
    var cn2 = 0.0
    var j = 0
    while (j < m) {
      val cv = codebooks(j)(codes.getLong(j).toInt)
      var sdot = 0.0
      var sn = 0.0
      var d = 0
      while (d < sub) {
        sdot = sdot + qv.getFloat(j * sub + d).toDouble * cv(d)
        sn = sn + cv(d) * cv(d)
        d += 1
      }
      adot = adot + sdot
      cn2 = cn2 + sn
      j += 1
    }
    val denom = java.lang.Math.sqrt(n2q) * java.lang.Math.sqrt(cn2)
    if (denom == 0.0) null else java.lang.Double.valueOf(adot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, qv, n2q) => {
      val cb = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      val adot = ctx.freshName("adot"); val cn2 = ctx.freshName("cn2")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val cv = ctx.freshName("cv"); val sdot = ctx.freshName("sdot")
      val sn = ctx.freshName("sn"); val denom = ctx.freshName("denom")
      s"""
         |double $adot = 0.0;
         |double $cn2 = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  double[] $cv = $cb[$j][(int) $codes.getLong($j)];
         |  double $sdot = 0.0;
         |  double $sn = 0.0;
         |  for (int $d = 0; $d < $sub; $d++) {
         |    $sdot = $sdot + (double) $qv.getFloat($j * $sub + $d) * $cv[$d];
         |    $sn = $sn + $cv[$d] * $cv[$d];
         |  }
         |  $adot = $adot + $sdot;
         |  $cn2 = $cn2 + $sn;
         |}
         |double $denom = java.lang.Math.sqrt($n2q) * java.lang.Math.sqrt($cn2);
         |if ($denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $adot / $denom;
         |}
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PqAdcCosine =
    copy(first = newFirst, second = newSecond, third = newThird)
}
