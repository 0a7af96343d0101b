package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a native aggregate (SURVEY §2.10 ladder:
  * custom aggregate before imperative mapPartitions).
  *
  * WHY: expressing per-query top-k as `row_number() OVER (PARTITION BY
  * query)` forces a full shuffle AND SORT of every scored row — at a
  * 10 M-vector ADC scan that sort dominated the whole pass (~25 s of
  * 30 s), and no windowed formulation avoids it: a window must order its
  * entire partition. An aggregate keeps a k-row HEAP per (group,
  * partition) instead: map-side partial aggregation (ObjectHashAggregate)
  * bounds what crosses the wire to `partitions × groups × k` entries and
  * nothing is ever globally sorted. Scored rows stream through in one
  * pass at any corpus size — the 100 TB form of "rank and keep k".
  *
  * Semantics match the window formulation EXACTLY for the cases the
  * engine uses (asserted in VectorSpec and PropertySpec against the window
  * witness `graft.Witness.topKPerQuery`): keep the k entries with the
  * highest (score, then LOWEST id on ties) and emit them best-first, so
  * `posexplode + 1` reproduces `row_number() ORDER BY score DESC, id`.
  *
  * NULL-score contract (ADVICE r4): null scores are DROPPED, where the
  * window formulation ranks them last — the two diverge only when a
  * query's non-null candidates number fewer than k AND nulls exist
  * (the query then returns fewer rows than the window path would).
  * The engine's null-score producer is [[Pq.adcCosine]]'s
  * zero-denominator `try_divide` (a zero-norm query vector); every
  * caller ranks over candidate sets ≫ k (ADC shortlists over probed
  * inverted lists), where drop-vs-rank-last agree on the kept k. A
  * caller that cannot guarantee that must pre-filter or pre-count its
  * candidates, not rely on the heap to surface nulls.
  */
object TopK {

  /** `top_k(struct(score, id), k)` → `array<struct<score double, id
    * bigint>>`, best-first. Use with `posexplode` to recover (rank, id,
    * score) rows.
    */
  def topK(score: Column, id: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.struct
    ColumnBridge.column(
      TopKByScore(ColumnBridge.expression(struct(score.as("score"), id.as("id"))), k)
        .toAggregateExpression())
  }
}

case class TopKByScore(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByScore.Heap] with UnaryLike[Expression] {

  require(k >= 1, s"top_k needs k >= 1, got $k")

  override def prettyName: String = "top_k"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StructType(Array(a, b)) if a.dataType == DoubleType && b.dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_k needs struct<double, bigint>, got $other")
    }

  override def createAggregationBuffer(): TopKByScore.Heap =
    new TopKByScore.Heap(k)

  override def update(buffer: TopKByScore.Heap, input: InternalRow): TopKByScore.Heap = {
    val v = child.eval(input).asInstanceOf[InternalRow]
    if (v != null && !v.isNullAt(0) && !v.isNullAt(1))
      buffer.offer(v.getDouble(0), v.getLong(1))
    buffer
  }

  override def merge(buffer: TopKByScore.Heap, other: TopKByScore.Heap): TopKByScore.Heap = {
    buffer.absorb(other)
    buffer
  }

  override def eval(buffer: TopKByScore.Heap): Any = {
    val best = buffer.drainBestFirst()
    new GenericArrayData(best.map { case (s, id) =>
      InternalRow(s, id)
    })
  }

  override def serialize(buffer: TopKByScore.Heap): Array[Byte] = {
    val entries = buffer.entries
    val bos = new ByteArrayOutputStream(4 + entries.length * 16)
    val out = new DataOutputStream(bos)
    out.writeInt(entries.length)
    entries.foreach { case (s, id) => out.writeDouble(s); out.writeLong(id) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByScore.Heap = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val heap = new TopKByScore.Heap(k)
    var i = 0
    while (i < n) { heap.offer(in.getDouble, in.getLong); i += 1 }
    heap
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKByScore =
    copy(child = newChild)
}

object TopKByScore {

  /** Bounded worst-first binary heap of (score, id): the head is the entry
    * the final (score DESC, id ASC) ranking likes LEAST — lowest score,
    * then HIGHEST id — so evicting the head whenever size exceeds k keeps
    * exactly the global top-k under that order, independent of arrival
    * order.
    */
  final class Heap(k: Int) {
    private var scores = new Array[Double](math.min(k + 1, 64))
    private var ids = new Array[Long](math.min(k + 1, 64))
    private var n = 0

    // a is strictly worse than b under (score DESC, id ASC) final order.
    // Score comparison is Spark SQL's OWN double ordering
    // (SQLOrderingUtil.compareDoubles): signed zeros TIE and NaN ranks
    // LARGEST — a raw `<` would diverge from the window formulation on
    // both (java.lang.Double.compare splits -0.0 < 0.0; primitive < is
    // always false on NaN). Caught by the PropertySpec signed-zero pool.
    private def cmpScore(a: Double, b: Double): Int =
      org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)

    private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
      val c = cmpScore(sa, sb)
      c < 0 || (c == 0 && ia > ib)
    }

    private def swap(i: Int, j: Int): Unit = {
      val ts = scores(i); scores(i) = scores(j); scores(j) = ts
      val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(scores(i), ids(i), scores((i - 1) / 2), ids((i - 1) / 2))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    }

    private def siftDown(): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < n && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < n && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }

    def offer(score: Double, id: Long): Unit = {
      if (n == scores.length) {
        val ns = new Array[Double](math.min(math.max(n * 2, 8), k + 1))
        val ni = new Array[Long](ns.length)
        System.arraycopy(scores, 0, ns, 0, n); System.arraycopy(ids, 0, ni, 0, n)
        scores = ns; ids = ni
      }
      scores(n) = score; ids(n) = id; n += 1
      siftUp(n - 1)
      if (n > k) { // evict the worst (heap head)
        n -= 1
        scores(0) = scores(n); ids(0) = ids(n)
        siftDown()
      }
    }

    def absorb(other: Heap): Unit = {
      var i = 0
      while (i < other.n) { offer(other.scores(i), other.ids(i)); i += 1 }
    }

    def entries: Array[(Double, Long)] =
      Array.tabulate(n)(i => (scores(i), ids(i)))

    /** Drain to (score DESC, id ASC) order — the output ranking. */
    def drainBestFirst(): Array[(Double, Long)] = {
      val arr = entries
      java.util.Arrays.sort(arr, new java.util.Comparator[(Double, Long)] {
        override def compare(a: (Double, Long), b: (Double, Long)): Int = {
          val c = cmpScore(b._1, a._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      })
      arr
    }
  }
}
