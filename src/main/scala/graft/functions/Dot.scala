package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native exact dot product (SURVEY §2.10 ladder, the [[LshBucket]]
  * reasoning applied to the pair-cosine hot path): the Column form —
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is two CodegenFallback
  * higher-order functions evaluated INTERPRETED per pair, and the exact
  * Jaccard/semantic-dedup/refine stages run it millions of times
  * (Σlist² pairs at d7; shortlist×queries at v6). One compiled loop does
  * the IDENTICAL arithmetic: each product formed once ((double)aᵢ ·
  * (double)bᵢ — float→double widening is exact), then added left-to-
  * right — the same op sequence as products-array-then-fold, so every
  * double is bit-equal (the Column form is the test witness
  * `graft.Witness.dot`/`norm2`, asserted in VectorSpec) and the DuckDB
  * oracles are untouched.
  */
object Dot {
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

/** Σᵢ (double)a(i)·(double)b(i), left-to-right; accepts float or double
  * element types on either side (mixed allowed — both widen to double
  * exactly like the legacy cast to array<double>).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "dot_product"
  override def dataType: DataType = DoubleType

  private def elem(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot_product needs array<float|double>, got ${left.dataType}, ${right.dataType}")
    }

  private lazy val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  /** NULL on length mismatch or null elements — exactly the legacy fold
    * (zip_with pads the short side with null; any null product nullifies
    * the running sum).
    */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc = acc + x * y
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ref = ctx.addReferenceObj("dotProduct", this, classOf[DotProduct].getName)
      val tmp = ctx.freshName("dotTmp")
      s"""
         |java.lang.Double $tmp = $ref.compute($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}
