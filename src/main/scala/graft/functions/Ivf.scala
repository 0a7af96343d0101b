package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native coarse-quantizer assignment for the IVF paths (SURVEY §2.10
  * ladder: custom Expression before UDFs/mapPartitions).
  *
  * WHY native — two defects of the Column/HOF formulation (the test
  * witness `graft.Witness.ivfAssign`), both of which get WORSE with
  * codebook size, i.e. exactly at 100 TB where a real index runs
  * thousands of coarse centroids:
  *
  *  1. the codebook rides the plan as a LITERAL `array(struct(...))` —
  *     at 16×64 doubles that is already a wall of text in every explain;
  *     at 4096×128 it is a multi-megabyte plan tree that bloats every
  *     analysis/optimization pass and can blow codegen limits. Here the
  *     codebook lives in the expression OBJECT (`ctx.addReferenceObj`,
  *     same as [[PqEncode]]) — the plan carries a pointer.
  *  2. `transform` + `array_sort` + `slice` evaluate their lambdas
  *     interpreted, per centroid, with a full k-entry struct array
  *     allocated and sorted per ROW just to keep the top n. The
  *     generated loop scores centroids with local accumulators and
  *     selects the top n in rank order without materializing or sorting
  *     anything.
  *
  * Bit-exactness contract (the oracle replays this): per-centroid score
  * = dot(v, cv) / (√n2 · √‖cv‖²) with every fold LEFT-TO-RIGHT seeded
  * 0.0 — the same association as the HOF version and DuckDB's
  * `list_reduce(list_prepend(0.0, …))`; centroid norms are folded once
  * at expression construction (the HOF version's literal norms are
  * constant-folded by Catalyst from the same association). `try_divide`
  * NULL (zero denominator, i.e. a zero-norm vector or centroid) is
  * represented as NaN internally and ranked explicitly LAST, ties to
  * the lowest cid — the witness comparator ranks its NULL scores the
  * same way, so the two agree on degenerate inputs too. (An implicit
  * "NaN compares as a tie against everything" treatment would make the
  * selection comparator non-transitive and the witness's array_sort
  * order undefined — the explicit rank keeps both total.) Ranking is
  * (score DESC, NaN/NULL last, cid ASC), identical to the witness.
  */
object Ivf {
  def assignTopN(embedding: Column, n2: Column,
      cents: Array[(Long, Array[Double])], n: Int): Column =
    ColumnBridge.column(IvfAssignTopN(ColumnBridge.expression(embedding),
      ColumnBridge.expression(n2), cents.map(_._1), cents.map(_._2), n))
}

/** `(embedding array<float>, n2 double)` → `array<long>` of the `n`
  * nearest centroid ids by cosine, best first, ties to the lowest cid.
  */
case class IvfAssignTopN(left: Expression, right: Expression,
    cids: Array[Long], cents: Array[Array[Double]], n: Int)
    extends BinaryExpression {
  require(n >= 1, s"ivf_assign needs n >= 1, got $n")
  require(cents.nonEmpty && cids.length == cents.length,
    "centroid ids and vectors must align")

  private val k = cents.length
  private val dims = cents(0).length
  private val outN = math.min(n, k)
  // ‖cv‖² folded once per centroid at construction — left-to-right,
  // 0.0-seeded, the association Catalyst constant-folds the witness's
  // literal norms with
  private val centNorm2: Array[Double] = cents.map { cv =>
    var acc = 0.0; var d = 0
    while (d < dims) { acc = acc + cv(d) * cv(d); d += 1 }
    acc
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_assign_topn"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_assign_topn needs (array<float>, double), got $other")
    }

  override protected def nullSafeEval(vAny: Any, n2Any: Any): Any = {
    val v = vAny.asInstanceOf[ArrayData]
    val n2 = n2Any.asInstanceOf[Double]
    val cs = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cents(c)
      var acc = 0.0
      var d = 0
      while (d < dims) {
        acc = acc + v.getFloat(d).toDouble * cv(d)
        d += 1
      }
      val denom = java.lang.Math.sqrt(n2) * java.lang.Math.sqrt(centNorm2(c))
      cs(c) = if (denom == 0.0) Double.NaN else acc / denom
      c += 1
    }
    val out = new Array[Long](outN)
    val taken = new Array[Boolean](k)
    var r = 0
    while (r < outN) {
      var best = -1
      var i = 0
      while (i < k) {
        if (!taken(i) && (best < 0 || {
          // (score DESC, NaN last, cid ASC) — total, hence transitive
          val iN = java.lang.Double.isNaN(cs(i))
          val bN = java.lang.Double.isNaN(cs(best))
          if (iN || bN) (!iN && bN) || (iN && bN && cids(i) < cids(best))
          else cs(i) > cs(best) || (cs(i) == cs(best) && cids(i) < cids(best))
        })) best = i
        i += 1
      }
      taken(best) = true
      out(r) = cids(best)
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n2) => {
      val cb = ctx.addReferenceObj("ivfCents", cents, "double[][]")
      val cn = ctx.addReferenceObj("ivfCentNorm2", centNorm2, "double[]")
      val ci = ctx.addReferenceObj("ivfCids", cids, "long[]")
      val cs = ctx.freshName("cs"); val taken = ctx.freshName("taken")
      val out = ctx.freshName("out"); val c = ctx.freshName("c")
      val d = ctx.freshName("d"); val acc = ctx.freshName("acc")
      val denom = ctx.freshName("denom"); val r = ctx.freshName("r")
      val best = ctx.freshName("best"); val i = ctx.freshName("i")
      s"""
         |double[] $cs = new double[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $dims; $d++) {
         |    $acc = $acc + (double) $v.getFloat($d) * $cb[$c][$d];
         |  }
         |  double $denom = java.lang.Math.sqrt($n2) * java.lang.Math.sqrt($cn[$c]);
         |  $cs[$c] = ($denom == 0.0) ? Double.NaN : $acc / $denom;
         |}
         |long[] $out = new long[$outN];
         |boolean[] $taken = new boolean[$k];
         |for (int $r = 0; $r < $outN; $r++) {
         |  int $best = -1;
         |  for (int $i = 0; $i < $k; $i++) {
         |    if ($taken[$i]) continue;
         |    boolean ${i}N = $best >= 0 && java.lang.Double.isNaN($cs[$i]);
         |    boolean ${best}N = $best >= 0 && java.lang.Double.isNaN($cs[$best]);
         |    if ($best < 0 ||
         |        ((${i}N || ${best}N)
         |          ? ((!${i}N && ${best}N) || (${i}N && ${best}N && $ci[$i] < $ci[$best]))
         |          : ($cs[$i] > $cs[$best] ||
         |             ($cs[$i] == $cs[$best] && $ci[$i] < $ci[$best])))) $best = $i;
         |  }
         |  $taken[$best] = true;
         |  $out[$r] = $ci[$best];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IvfAssignTopN = copy(left = newLeft, right = newRight)
}
