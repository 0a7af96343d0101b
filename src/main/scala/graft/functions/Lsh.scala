package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native sign-random-projection LSH bucketing (SURVEY §2.10 ladder —
  * same reasoning as [[PqEncode]]/[[IvfAssignTopN]]).
  *
  * The Column formulation (the sign bits of
  * [[graft.operators.VectorOps.planeDot]], test witness
  * `graft.Witness.lshBucket`) folds `aggregate(sequence(1, dims))`
  * once PER PLANE, and because the hyperplane coefficient expression
  * references the lambda variable it is NOT constant-folded — every
  * coefficient is re-derived interpreted, per row, per plane, per dim,
  * and the `v.cast("array<double>")` materializes per plane. Here the
  * coefficient planes are precomputed ONCE at construction with the same
  * Long arithmetic ((1103515245·(p·dims+d) + 12345) mod 2001 − 1000,
  * exactly representable in double), and the generated code runs one
  * accumulator per plane in index order — the identical left-to-right
  * fold, so projections and sign bits are bit-equal (asserted in
  * VectorSpec; v2/v3 oracles pin it end-to-end).
  */
object Lsh {
  def bucket(v: Column, planes: Int, dims: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(v), planes, dims))
}

/** `array<float>` embedding → `bigint` bucket id: bit p set iff the
  * signed projection onto deterministic hyperplane p is > 0.
  */
case class LshBucket(child: Expression, planes: Int, dims: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")

  // coef(p)(d) via the same Long arithmetic the witness runs per row
  private val coef: Array[Array[Double]] = Array.tabulate(planes, dims) {
    (p, d) =>
      ((1103515245L * (p.toLong * dims + d) + 12345L) % 2001L - 1000L).toDouble
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_bucket needs array<float>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val cp = coef(p)
      var acc = 0.0
      var d = 0
      while (d < dims) {
        acc = acc + v.getFloat(d).toDouble * cp(d)
        d += 1
      }
      if (acc > 0.0) bucket = bucket + (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val cf = ctx.addReferenceObj("lshCoef", coef, "double[][]")
      val bucket = ctx.freshName("bucket")
      val p = ctx.freshName("p"); val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      s"""
         |long $bucket = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    $acc = $acc + (double) $input.getFloat($d) * $cf[$p][$d];
         |  }
         |  if ($acc > 0.0) $bucket = $bucket + (1L << $p);
         |}
         |${ev.value} = $bucket;
         |""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}
