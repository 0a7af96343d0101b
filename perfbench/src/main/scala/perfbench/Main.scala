package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Options of one run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, traces: Option[String] = None)

/** The result line's fields plus every metric, named. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[Metric], named: Seq[Metric], failures: Seq[String])

/** Runs one workload: set-up (several times; the median counts), then a
  * closed loop of steps for the given seconds, then the checks.
  *
  * An untraced run (`--trace 0`) reports the end-to-end metrics, which
  * every workload defines, scaled to the host-speed [[Canary]] (the
  * `metric` lines carry them as measured, as `raw.<name>`):
  *   - `setup_s`: JVM and Spark session start, plus the median of
  *     `setupReps` set-ups, each making the inputs and lakes afresh, plus
  *     the untimed warm-up operations;
  *   - `op_p50_ms`, `op_p90_ms`: latency of the workload's operations;
  *   - `ops_per_s`: operations completed per second spent inside the
  *     loop's operations;
  *   - `cpu_ms_per_op`: process CPU time inside the loop's operations, per
  *     operation;
  *   - `peak_rss_mb`: the JVM's peak resident memory (`VmHWM`).
  * A traced run (`--trace 1`) attaches the tracer and reports the
  * per-layer metrics, over the traced operations of the first
  * `tracePrefix` steps where they are counts, so the counts repeat exactly
  * for one seed. Each workload also prints its own named metrics on
  * `metric` lines before the result line.
  */
object Bench {

  def workload(name: String, spark: SparkSession, seed: Long, size: Size): Workload =
    name match {
      case "etl_batch" => new EtlBatch(spark, seed, size)
      case "lake_read" => new LakeRead(spark, seed, size)
      case "lake_write" => new LakeWrite(spark, seed, size)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process, from /proc/self/status. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Progress on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"perfbench: ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1fs $msg")

  def run(spark: SparkSession, opts: Opts, size: Size, sessionS: Double,
      make: (String, SparkSession, Long, Size) => Workload = workload): Result = {
    val cores = spark.sparkContext.defaultParallelism
    val setups = (0 until size.setupReps(opts.workload)).map { r =>
      val t0 = System.nanoTime()
      val w = make(opts.workload, spark, opts.seed, size)
      w.setup(s"${opts.work}/rep-$r")
      ((System.nanoTime() - t0) / 1e9, w, r)
    }
    val w = setups.last._2
    setups.init.foreach { case (_, _, r) => Files.delete(s"${opts.work}/rep-$r") }
    val warm0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - warm0) / 1e9
    log(s"session ${sessionS}s, set-ups " + setups.map(_._1).mkString(", ") +
      s" s, warm-up ${warmS}s")
    val setupS = sessionS + Stats.median(setups.map(_._1)) + warmS

    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    w.tracer = tracer
    // the canary runs before, between (at most once a second, untimed)
    // and after the steps; its first runs only warm it
    (1 to 3).foreach(_ => Canary.once(cores))
    val canary = mutable.ArrayBuffer.fill(3)(Canary.once(cores))
    val gc0 = gcMs
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var lastCanary = 0.0
    var i = 0
    while (elapsedS < opts.seconds || i < w.minSteps || (opts.trace && i < w.tracePrefix)) {
      if (i == w.tracePrefix) w.prefixOps = w.rec.ops.size
      w.step(i, opts.trace && w.traced(i))
      i += 1
      if (elapsedS - lastCanary >= 1.0) {
        canary += Canary.once(cores)
        lastCanary = elapsedS
      }
    }
    if (i <= w.tracePrefix) w.prefixOps = w.rec.ops.size
    val windowS = elapsedS
    val gc = gcMs - gc0
    canary ++= (1 to 3).map(_ => Canary.once(cores))
    val canaryMs = Stats.median(canary.toSeq)
    val scale = Canary.RefMs / canaryMs
    log(s"$i steps in ${windowS}s, canary ${canaryMs}ms")
    w.finish()
    log("checks done")

    val ok = w.rec.ms(w.opKinds: _*)
    // time and CPU inside the loop's operations of every kind, leaving out
    // the benchmark's own checks between them
    val busyS = w.rec.ops.map(_.ms).sum / 1e3
    val busyCpuMs = w.rec.ops.map(_.cpuMs).sum
    // as measured; the result line carries them scaled to the canary
    val raw = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(ok), "ms"),
      Metric("op_p90_ms", Stats.quantile(ok, 0.9), "ms"),
      Metric("ops_per_s", ok.size / busyS, "ops/s"),
      Metric("cpu_ms_per_op", busyCpuMs / ok.size, "ms"))
    val e2e = raw.map {
      case m if m.name == "ops_per_s" => m.copy(value = m.value / scale)
      case m => m.copy(value = m.value * scale)
    } :+ Metric("peak_rss_mb", peakRssMb, "MB")
    val named = Seq(
      Metric("canary_ms", canaryMs, "ms"),
      Metric("peak_rss_mb", peakRssMb, "MB"),
      Metric("failed_frac", w.rec.failed.toDouble / w.rec.attempted, "ratio")) ++
      raw.map(m => m.copy(name = s"raw.${m.name}")) ++ w.named(busyS)
    var layerOnly = Seq.empty[Metric]
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        layerOnly = w.layers(s"${opts.work}/layers")
        t.detach()
        val prefix = w.rec.ops.take(w.prefixOps).filter(_.traced)
        val cs = prefix.flatMap(o => t.perOp.get(o.index)).toSeq
        def per(f: Counters => Double) = Stats.mean(cs.map(f))
        val tracedOps = w.rec.ops.filter(_.traced).toSeq
        val tracedWallMs = tracedOps.map(_.ms).sum
        val allCounters = tracedOps.flatMap(o => t.perOp.get(o.index))
        val spans = t.spans
        val jobs = spans.filter(_.name == "spark.job").map(s => (s.startUs, s.endUs))
        val opSpans = spans.filter(_.parent == -1)
        val driverSelf = opSpans.map { s =>
          val inside = jobs.map { case (a, b) => (a.max(s.startUs), b.min(s.endUs)) }
            .filter { case (a, b) => b > a }
          (s.endUs - s.startUs - Tracer.union(inside)) / 1e3
        }
        def opMs(traced: Boolean) = Stats.median(
          w.rec.ops.filter(o => o.ok && o.traced == traced && w.opKinds.contains(o.kind))
            .map(_.ms).toSeq)
        opts.traces.foreach(dir => TraceFile.write(dir, opts, w, t, spans))
        Seq(
          Metric("spark.jobs", per(_.jobs), "count"),
          Metric("spark.stages", per(_.stages), "count"),
          Metric("spark.tasks", per(_.tasks), "count"),
          Metric("spark.executor_run_ms", per(_.runMs), "ms"),
          Metric("spark.executor_cpu_ms", per(_.cpuMs), "ms"),
          Metric("spark.core_busy_frac",
            allCounters.map(_.runMs).sum / (tracedWallMs * cores), "ratio"),
          Metric("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble), "bytes"),
          Metric("spark.shuffle_read_bytes", per(_.shuffleRead.toDouble), "bytes"),
          Metric("spark.spill_bytes", per(_.spill.toDouble), "bytes"),
          Metric("spark.input_bytes", per(_.input.toDouble), "bytes"),
          Metric("spark.output_bytes", per(_.output.toDouble), "bytes"),
          Metric("catalyst.queries", per(_.queries.toDouble), "count"),
          Metric("catalyst.analysis_ms", per(_.analysisMs), "ms"),
          Metric("catalyst.optimization_ms", per(_.optimizationMs), "ms"),
          Metric("catalyst.planning_ms", per(_.planningMs), "ms"),
          Metric("driver.self_ms", Stats.median(driverSelf), "ms"),
          Metric("jvm.gc_ms", gc.toDouble / w.rec.attempted, "ms"),
          Metric("trace.overhead_ms", opMs(true) - opMs(false), "ms"))
    }
    val failures = w.rec.ops.flatMap(o => o.failure.map(f => s"op ${o.index} ${o.kind}: $f"))
    Result(w.rec.failed == 0 && w.rec.attempted > 0, w.rec.attempted, w.rec.failed,
      metrics, named ++ layerOnly, failures.toSeq)
  }

  /** The result line: `correct`, `attempted`, `failed` and the metrics
    * the benchmark declares for this kind of run. */
  def json(r: Result): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = r.metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {$ms}}"""
  }
}

object Main {

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.get("traces"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Bench.session(opts.work, Runtime.getRuntime.availableProcessors)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val r = try Bench.run(spark, opts, Size(), sessionS) finally spark.stop()
    Bench.log("session stopped")
    r.failures.take(20).foreach(f => System.err.println(s"perfbench: failed $f"))
    (r.named ++ (if (opts.trace) r.metrics else Nil)).foreach { m =>
      println(f"metric ${opts.workload} ${m.name} ${m.value}%.6f ${m.unit}")
    }
    println(Bench.json(r))
  }
}
