package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.FinData
import graft.sinks.{ManifestFileIndex, SnapshotLake}

/** `lake_read`: a seeded mix of small reads over a `SnapshotLake` built
  * from clean bars in time-slice appends, with `ts` statistics and a
  * `symbol` bloom filter. Answers are small, so query planning, fixed
  * per-job costs, manifest resolution and file pruning dominate; no ETL
  * operator runs. Mix: 40% scans (`FinData.queryOhlcv` over
  * `ManifestFileIndex.readPruned`), 30% lookups (`FinData.latestTimestamp`,
  * `SnapshotLake.readPoint`), 30% aggregates (`FinData.symbolStats`, and a
  * whole-lake count/min/max that `ManifestAggRewrite` answers from the
  * manifest). Scans are the largest share so the p90 falls inside the
  * scan latency mode, not on a boundary between two operation types.
  *
  * Every answer is checked against the same call over the plain input
  * parquet: no lake, no pruning, no rewrite. */
final class LakeRead(spark: SparkSession, seed: Long, size: Size)
    extends Workload(spark, seed, size) {
  import LakeRead._

  private var plain: String = _
  private var lake: String = _
  private var pool: IndexedSeq[Query] = IndexedSeq.empty
  private val answers = mutable.ArrayBuffer[(rec.Op, Query, Seq[Row])]()
  private val order = new scala.util.Random(seed ^ 0x5eedL)
  private var block: List[String] = Nil
  private var filesLive = 0

  def opKinds: Seq[String] = Seq("scan", "lookup", "agg")
  def tracePrefix: Int = 60

  def setup(d: String): Unit = {
    plain = s"$d/plain"
    lake = s"$d/lake"
    val n = size.readMinutes
    Inputs.clean(spark, seed, size.readSymbols, 0L, n).select(Inputs.BarCols.map(col): _*)
      .write.parquet(plain)
    val slices = size.readSlices
    (0 until slices).foreach { k =>
      val from = n * k / slices
      val to = n * (k + 1) / slices
      SnapshotLake.append(spark, lake,
        Inputs.clean(spark, seed, size.readSymbols, from, to - from)
          .select(Inputs.BarCols.map(col): _*),
        statsCols = Seq("ts"), bloomCols = Seq("symbol"))
    }
    filesLive = SnapshotLake.manifest(spark, lake, None).files.size
    pool = makePool()
  }

  /** One read of every sub-kind. */
  def warmup(): Unit =
    pool.groupBy(_.sub).values.map(_.head).foreach(q => q.run(None).collect())

  private def ts(minute: Long): String = Inputs.minuteTs(minute).toString.replace('T', ' ')

  /** A seeded pool of distinct reads; the client draws from it by kind. */
  private def makePool(): IndexedSeq[Query] = {
    val rnd = new scala.util.Random(seed)
    val n = size.readMinutes
    def sym() = Inputs.symbol(rnd.nextInt(size.readSymbols))
    def pruned(src: Option[DataFrame]) =
      src.getOrElse(sp("sinks.resolve")(ManifestFileIndex.readPruned(spark, lake)))
    val span = math.max(1L, n / 8)
    val scans = (0 until size.readPool / 2).map { _ =>
      val s = sym()
      val from = (rnd.nextDouble() * (n - span)).toLong
      Query(s"scan $s $from", "scan", "scan", src =>
        FinData.queryOhlcv(pruned(src), s, Some(ts(from)), Some(ts(from + span - 1))))
    }
    val latest = (0 until size.readPool / 8).map { _ =>
      val s = sym()
      Query(s"latest $s", "lookup", "latest", src => FinData.latestTimestamp(pruned(src), s))
    }
    val points = (0 until size.readPool / 8).map { _ =>
      val s = sym()
      val t = Inputs.minuteTs((rnd.nextDouble() * n).toLong)
      Query(s"point $s $t", "lookup", "point", {
        case Some(p) => p.filter(col("symbol") === s && col("ts") === lit(t))
        case None => sp("sinks.resolve")(
          SnapshotLake.readPoint(spark, lake, Map("symbol" -> s, "ts" -> t)))
      })
    }
    val stats = (0 until size.readPool / 8).map { _ =>
      val s = sym()
      Query(s"stats $s", "agg", "stats", src => FinData.symbolStats(pruned(src), s))
    }
    val whole = Query("whole", "agg", "whole", src =>
      pruned(src).agg(count(lit(1)).as("n"), min("ts").as("lo"), max("ts").as("hi")))
    scans ++ latest ++ points ++ stats :+ whole
  }

  /** Reads come in seeded shuffles of a block of 20: 8 scans, 6 lookups
    * (3 `latestTimestamp`, 3 `readPoint`) and 6 aggregates (3
    * `symbolStats`, 3 whole-lake), so every window holds the 40/30/30 mix
    * up to one block; the parameters are drawn uniformly from the pool. */
  private def draw(): Query = {
    if (block.isEmpty) block = order.shuffle(Block).toList
    val sub = block.head
    block = block.tail
    val cands = pool.filter(_.sub == sub)
    cands(order.nextInt(cands.size))
  }

  def step(i: Int, traced: Boolean): Unit = {
    val q = draw()
    val (op, rows) = timed(q.kind, traced) {
      val df = q.run(None)
      sp("sinks.exec")(df.collect().toSeq)
    }
    rows.foreach(r => answers += ((op, q, r)))
  }

  /** Each distinct read's answer over the plain parquet, computed once
    * after the timed window and compared with every lake answer of it. */
  override def finish(): Unit = {
    val src = spark.read.parquet(plain)
    val oracle = mutable.Map[String, Seq[Row]]()
    answers.foreach { case (op, q, got) =>
      val want = oracle.getOrElseUpdate(q.key, q.run(Some(src)).collect().toSeq)
      rec.check(op, s"answer of ${q.key}") {
        if (q.kind == "scan") Workload.sameRows(got, want)
        else Workload.sameRows(Workload.sorted(got), Workload.sorted(want))
      }
    }
  }

  def named(busyS: Double): Seq[Metric] = {
    val all = rec.ms(opKinds: _*)
    Seq(
      Metric("scan_p50_ms", Stats.median(rec.ms("scan")), "ms"),
      Metric("lookup_p50_ms", Stats.median(rec.ms("lookup")), "ms"),
      Metric("agg_p50_ms", Stats.median(rec.ms("agg")), "ms"),
      Metric("read_p90_ms", Stats.quantile(all, 0.9), "ms"),
      Metric("reads_per_s", all.size / busyS, "ops/s"))
  }

  override def layers(d: String): Seq[Metric] = {
    val t = tracer.get
    val byOp = answers.iterator.map { case (op, q, _) => op.index -> q }.toMap
    val traced = rec.ops.take(prefixOps).filter(o => o.traced && byOp.contains(o.index))
    def countersOf(sub: String): Seq[Counters] =
      traced.filter(o => byOp(o.index).sub == sub).flatMap(o => t.perOp.get(o.index)).toSeq
    val scans = countersOf("scan")
    val scanFiles = scans.map(_.filesRead).sum
    val aggs = countersOf("stats") ++ countersOf("whole")
    val all = t.spans
    def spanMs(name: String) =
      Stats.median(all.filter(_.name == name).map(s => s.ms))
    Seq(
      Metric("sinks.resolve_ms", spanMs("sinks.resolve"), "ms"),
      Metric("sinks.exec_ms", spanMs("sinks.exec"), "ms"),
      Metric("sinks.files_live", filesLive, "count"),
      Metric("sinks.files_read", Stats.mean(scans.map(_.filesRead.toDouble)), "count"),
      Metric("sinks.prune_ratio",
        if (scans.isEmpty) Double.NaN else 1.0 - scanFiles.toDouble / (filesLive * scans.size),
        "ratio"),
      Metric("plans.meta_answered_frac",
        if (aggs.isEmpty) Double.NaN else aggs.count(_.jobs == 0).toDouble / aggs.size, "ratio"))
  }
}

object LakeRead {

  /** One read. `run` answers it from `src` (None = the lake). */
  final case class Query(key: String, kind: String, sub: String,
      run: Option[DataFrame] => DataFrame)

  val Block: Seq[String] = Seq.fill(8)("scan") ++ Seq.fill(3)("latest") ++
    Seq.fill(3)("point") ++ Seq.fill(3)("stats") ++ Seq.fill(3)("whole")
}
