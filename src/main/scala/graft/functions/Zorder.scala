package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Rank-bucket quantization for Z-order clustering ([[graft.sinks.Lake
  * .zOrderShape]]): value → index of its quantile bucket via binary
  * search over precomputed boundaries. Rank-based (not min/max-uniform)
  * so skewed columns still spread across the full bucket range — the same
  * choice production OPTIMIZE ZORDER implementations make.
  *
  * The boundary array lives in the expression OBJECT (addReferenceObj),
  * not the plan tree — the [[IvfAssignTopN]] lesson: a literal array of
  * thousands of doubles becomes a multi-megabyte plan.
  */
object Zorder {
  def rankBucket(c: Column, boundaries: Array[Double]): Column =
    ColumnBridge.column(RankBucket(ColumnBridge.expression(c), boundaries))
}

/** double → bucket id in [0, boundaries.length]: the number of boundaries
  * strictly below the value (binary search, so 2^bits buckets cost `bits`
  * comparisons per row).
  */
case class RankBucket(child: Expression, boundaries: Array[Double])
    extends UnaryExpression {
  require(boundaries.nonEmpty, "boundaries must be non-empty")

  override def prettyName: String = "rank_bucket"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"rank_bucket needs double, got $other")
  }

  def compute(v: Double): Long = {
    var lo = 0
    var hi = boundaries.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (boundaries(mid) < v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val ref = ctx.addReferenceObj("rankBucket", this, classOf[RankBucket].getName)
      s"${ev.value} = $ref.compute($input);"
    })

  // Array equality: two RankBuckets over the same child must compare equal
  // iff their boundaries match VALUE-wise (case-class array equality is
  // reference equality, which would defeat CSE and plan canonicalization).
  override def equals(other: Any): Boolean = other match {
    case RankBucket(c, b) =>
      c == child && java.util.Arrays.equals(b, boundaries)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(boundaries)

  override protected def withNewChildInternal(newChild: Expression): RankBucket =
    copy(child = newChild)
}
