package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{MaterializedRollup => MV, SnapshotLake}

/** `lake_write`: the write side of the `sinks` layer. Set-up lands a base
  * lake of `writeBaseHours` hourly slices and builds an hourly OHLCV
  * rollup over it with `MaterializedRollup.init`. Each cycle appends the
  * next hour, refreshes the rollup, and reads the newest bucket back with
  * `readFinal`; every 3rd cycle upserts late corrections with
  * `mergeComposite` (keyed on symbol and ts, pruned on ts), every 6th
  * deletes one symbol-day with a ts prune box, every 12th runs `compact`
  * then `vacuum`. The schedule is phased so that cycle 1 upserts and
  * cycle 4 upserts and deletes (cycle 10 also compacts): four cycles
  * measure every write kind. After a cycle that rewrote base rows the next refresh
  * is `fullRefresh`, the documented fallback when the incremental chain
  * is broken.
  *
  * Checks: every rollup read holds the bucket just appended; at the end
  * the base lake equals the benchmark's own model (appends and upserts,
  * minus deletes) and `readFinal` equals a one-shot GROUP BY over it. */
final class LakeWrite(spark: SparkSession, seed: Long, size: Size)
    extends Workload(spark, seed, size) {

  private var base: String = _
  private var mv: String = _
  private var hours = 0 // hourly slices appended so far
  private var cycle = 0
  private var chainBroken = false
  private val upserts = mutable.ArrayBuffer[DataFrame]()
  private val deletes = mutable.ArrayBuffer[Column]()
  // model edits in the order they were applied: Left = upsert, Right = delete
  private val edits = mutable.ArrayBuffer[Either[Int, Int]]()
  private var seen = Map.empty[String, Long]
  // per step: bytes of new files, of new manifests, of user rows written
  private val stepBytes = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val stepVersions = mutable.ArrayBuffer[Long]() // base head after each step
  private var startVersion = 0L
  private val rnd = new scala.util.Random(seed ^ 0x77L)
  private val lagMs = mutable.ArrayBuffer[Double]()
  private val refreshes = mutable.ArrayBuffer[(rec.Op, Boolean)]() // (op, full)
  private val merged = mutable.ArrayBuffer[(rec.Op, Int)]()
  private val deleted = mutable.ArrayBuffer[(rec.Op, Long)]()

  private val Spec = MV.Spec(
    keyCols = Seq("symbol", "bucket_ts"), pruneKey = "bucket_ts",
    sumCols = Seq("volume"), minCols = Seq("low"), maxCols = Seq("high"),
    orderCol = Some("ts"), firstCols = Seq("open"), lastCols = Seq("close"))

  private val Cols = Inputs.BarCols ++ Seq("bucket_ts", "ver")

  def opKinds: Seq[String] = Seq("append", "upsert", "delete")
  def tracePrefix: Int = 12
  override def minSteps: Int = 4

  private def upsertCycle(c: Int) = c % 3 == 1
  private def deleteCycle(c: Int) = c % 6 == 4
  private def compactCycle(c: Int) = c % 12 == 10

  /** Cycles are numbered from 1; the odd ones and every special one are
    * traced, and the plain even ones measure the tracing overhead. */
  override def traced(i: Int): Boolean = { val c = i + 1; c % 2 == 1 || upsertCycle(c) }

  private def bars(firstHour: Long, nHours: Long): DataFrame =
    Inputs.clean(spark, seed, size.writeSymbols, firstHour * 60, nHours * 60)
      .withColumn("bucket_ts", date_trunc("hour", col("ts")).cast("timestamp_ntz"))
      .withColumn("ver", lit(0L))
      .select(Cols.map(col): _*)

  /** Bytes of user rows: Spark's default size of each column's type. */
  private lazy val rowBytes: Long = bars(0, 0).schema.fields.map(_.dataType.defaultSize).sum
  private def userBytes(rows: Long): Long = rows * rowBytes

  private def appendHours(n: Int): Long = {
    val v = SnapshotLake.append(spark, base, bars(hours, n),
      statsCols = Seq("ts", "bucket_ts"), bloomCols = Seq("symbol"))
    hours += n
    v
  }

  def setup(d: String): Unit = {
    base = s"$d/base"
    mv = s"$d/mv"
    hours = 0
    appendHours(size.writeBaseHours)
    MV.init(spark, base, mv, Spec)
  }

  /** One plain cycle, untimed and unchecked. */
  def warmup(): Unit = {
    appendHours(1)
    MV.refresh(spark, base, mv, Spec)
    MV.readFinal(spark, mv, Spec).filter(col("bucket_ts") === lit(Inputs.minuteTs((hours - 1) * 60L)))
      .collect()
    seen = sizes()
    startVersion = SnapshotLake.latestVersion(spark, base).get
  }

  private def sizes(): Map[String, Long] = Files.sizes(base) ++ Files.sizes(mv)

  def step(i: Int, traced: Boolean): Unit = {
    cycle += 1
    val c = cycle
    var user = 0L
    val newest = Inputs.minuteTs(hours * 60L)
    val (appendOp, appended) = timed("append", traced)(sp("sinks.append")(appendHours(1)))
    if (appended.isDefined) user += userBytes(size.writeSymbols * 60L)
    val appendedAt = System.nanoTime()
    val full = chainBroken
    val (refreshOp, _) = timed("mv.refresh", traced)(sp("mv.refresh")(
      if (full) MV.fullRefresh(spark, base, mv, Spec) else MV.refresh(spark, base, mv, Spec)))
    refreshes += ((refreshOp, full))
    if (refreshOp.ok) chainBroken = false
    val (readOp, rows) = timed("mv.read", traced)(sp("mv.read")(
      MV.readFinal(spark, mv, Spec).filter(col("bucket_ts") === lit(newest)).collect()))
    rows.foreach { r =>
      rec.check(readOp, s"newest bucket $newest in the rollup") {
        r.length == size.writeSymbols && r.forall(_.getAs[Long]("n_rows") == 60L)
      }
    }
    if (appendOp.ok && refreshOp.ok && readOp.ok)
      lagMs += (System.nanoTime() - appendedAt) / 1e6

    if (upsertCycle(c)) {
      val upd = corrections(c)
      val (op, r) = timed("upsert", traced)(sp("sinks.merge")(
        SnapshotLake.mergeComposite(spark, base, upd, keyCols = Seq("symbol", "ts"),
          versionCol = "ver", pruneKeys = Seq("ts"))))
      upserts += upd
      edits += Left(upserts.size - 1)
      chainBroken = true
      r.foreach(t => merged += ((op, t._2)))
      user += userBytes(upd.count())
    }
    if (deleteCycle(c)) {
      val s = Inputs.symbol(rnd.nextInt(size.writeSymbols))
      val day = rnd.nextInt(((hours - 1) / 24) + 1)
      val lo = Inputs.minuteTs(day * 1440L)
      val hi = Inputs.minuteTs((day + 1) * 1440L)
      val pred = col("symbol") === s && col("ts") >= lit(lo) && col("ts") < lit(hi)
      val (op, r) = timed("delete", traced)(sp("sinks.delete")(
        SnapshotLake.delete(spark, base, pred,
          pruneBox = Map("ts" -> (Inputs.micros(lo).toDouble, Inputs.micros(hi).toDouble - 1)))))
      // in the model the delete covers only the rows the lake held then;
      // the same symbol-day may gain rows from later appends
      deletes += pred && col("ts") < lit(Inputs.minuteTs(hours * 60L))
      edits += Right(deletes.size - 1)
      chainBroken = true
      r.foreach(t => deleted += ((op, t._2)))
    }
    if (compactCycle(c)) {
      val (op, _) = timed("compact", traced)(sp("sinks.compact")(SnapshotLake.compact(spark, base)))
      if (op.ok) chainBroken = true
      timed("vacuum", traced)(sp("sinks.vacuum")(SnapshotLake.vacuum(spark, base)))
    }
    val now = sizes()
    val fresh = now.filter { case (p, _) => !seen.contains(p) }
    seen = now
    stepBytes += ((fresh.values.sum,
      fresh.collect { case (p, b) if p.contains("_manifests") => b }.sum, user))
    stepVersions += SnapshotLake.latestVersion(spark, base).get
  }

  /** Late corrections for distinct keys of the last three hours: a new
    * close and volume under version `c`, which beats every earlier one. */
  private def corrections(c: Int): DataFrame = {
    val keys = (0 until size.upsertKeys).map { _ =>
      (rnd.nextInt(size.writeSymbols), (hours - 3).max(0) * 60L + rnd.nextInt(180))
    }.distinct
    val all = bars((hours - 3).max(0), math.min(3, hours))
    val picked = keys.map { case (sid, m) =>
      col("symbol") === Inputs.symbol(sid) && col("ts") === lit(Inputs.minuteTs(m))
    }.reduce(_ || _)
    all.filter(picked)
      .withColumn("close", round((col("high") + col("low")) / 2 + c * 0.001, 3))
      .withColumn("volume", col("volume") + c)
      .withColumn("ver", lit(c.toLong))
      .localCheckpoint()
  }

  /** The base lake the benchmark expects: every appended hour, with each
    * upsert and delete applied in order. */
  private def model(): DataFrame =
    edits.foldLeft(bars(0, hours)) {
      case (m, Left(u)) =>
        val upd = upserts(u)
        m.join(upd.select("symbol", "ts"), Seq("symbol", "ts"), "left_anti")
          .unionByName(upd)
      case (m, Right(d)) => m.filter(!deletes(d))
    }

  override def finish(): Unit = {
    val lastOp = rec.ops.last
    val got = SnapshotLake.read(spark, base).select(Cols.map(col): _*)
    val want = model()
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    rec.check(lastOp, s"base lake equals the model: ${extra.length} rows not in the model " +
        s"(${extra.take(3).mkString(" ")}), ${missing.length} model rows missing " +
        s"(${missing.take(3).mkString(" ")})") {
      extra.isEmpty && missing.isEmpty
    }
    if (chainBroken) MV.fullRefresh(spark, base, mv, Spec) else MV.refresh(spark, base, mv, Spec)
    val rolled = MV.readFinal(spark, mv, Spec)
      .select("symbol", "bucket_ts", "n_rows", "sum_volume", "min_low", "max_high",
        "first_open", "last_close")
    val oneShot = SnapshotLake.read(spark, base).groupBy("symbol", "bucket_ts").agg(
      count(lit(1)).as("n_rows"), sum("volume").as("sum_volume"), min("low").as("min_low"),
      max("high").as("max_high"), min_by(col("open"), col("ts")).as("first_open"),
      max_by(col("close"), col("ts")).as("last_close"))
    rec.check(lastOp, "rollup equals a one-shot GROUP BY") {
      val a = Workload.sorted(rolled.collect().toSeq)
      val b = Workload.sorted(oneShot.collect().toSeq)
      Workload.sameRows(a, b)
    }
  }

  private def writeAmp(steps: Seq[(Long, Long, Long)]): Double =
    steps.map(_._1).sum.toDouble / steps.map(_._3).sum

  def named(busyS: Double): Seq[Metric] = Seq(
    Metric("append_p50_ms", Stats.median(rec.ms("append")), "ms"),
    Metric("upsert_p50_ms", Stats.median(rec.ms("upsert")), "ms"),
    Metric("delete_p50_ms", Stats.median(rec.ms("delete")), "ms"),
    Metric("write_p90_ms", Stats.quantile(rec.ms(opKinds: _*), 0.9), "ms"),
    Metric("mv_lag_ms", Stats.median(lagMs.toSeq), "ms"),
    Metric("write_amp", writeAmp(stepBytes.toSeq), "ratio"))

  override def layers(d: String): Seq[Metric] = {
    val t = tracer.get
    val prefix = stepBytes.take(tracePrefix).toSeq
    val tracedOps = rec.ops.take(prefixOps).filter(_.traced)
    def medOf(kind: String) = Stats.median(tracedOps.filter(o => o.ok && o.kind == kind).map(_.ms).toSeq)
    val refreshJobs = refreshes.filter { case (o, full) => o.traced && !full && o.index < prefixOps }
      .flatMap { case (o, _) => t.perOp.get(o.index) }.map(_.jobs.toDouble)
    Seq(
      Metric("sinks.append_ms", medOf("append"), "ms"),
      Metric("sinks.merge_ms", medOf("upsert"), "ms"),
      Metric("sinks.delete_ms", medOf("delete"), "ms"),
      Metric("sinks.compact_ms", medOf("compact"), "ms"),
      Metric("sinks.vacuum_ms", medOf("vacuum"), "ms"),
      Metric("sinks.files_rewritten", merged.filter(_._1.index < prefixOps).map(_._2).sum, "count"),
      Metric("sinks.rows_deleted", deleted.filter(_._1.index < prefixOps).map(_._2).sum, "count"),
      Metric("sinks.bytes_written", prefix.map(_._1).sum, "bytes"),
      Metric("sinks.manifest_bytes", prefix.map(_._2).sum, "bytes"),
      Metric("sinks.versions", stepVersions.take(tracePrefix).lastOption
        .fold(0L)(_ - startVersion), "count"),
      Metric("write_amp", writeAmp(prefix), "ratio"),
      Metric("mv.refresh_ms", medOf("mv.refresh"), "ms"),
      Metric("mv.read_ms", medOf("mv.read"), "ms"),
      Metric("mv.jobs_per_refresh", Stats.mean(refreshJobs.toSeq), "count"))
  }
}
