package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Pipeline

/** `etl_batch`: each operation is one full `Pipeline.run` over seeded dirty
  * bars: clean, resample to 5 minutes, indicators, z-score, a 70/15/15
  * chronological split, and `Lake.writeArchive` into a fresh directory.
  * The work grows with the data, in the window operators, the shuffles
  * and the partitioned write; no manifest lake or MV is touched. */
final class EtlBatch(spark: SparkSession, seed: Long, size: Size)
    extends Workload(spark, seed, size) {

  private var dir: String = _
  private var input: String = _
  private var expected: Map[String, Long] = Map.empty
  private var buckets: Long = 0L
  private var runs = 0

  private val Cuts = Seq(0.7, 0.85)
  private val Labels = Seq("train", "val", "test")

  private def config(out: Option[String]) = Pipeline.Config(
    resampleTo = Some("5 minutes"), normalize = Some("zscore"), indicators = true,
    split = Pipeline.SplitConfig(Cuts, Labels), outputPath = out)

  def opKinds: Seq[String] = Seq("pipeline.run")
  def tracePrefix: Int = 4
  override def minSteps: Int = 3

  def setup(d: String): Unit = {
    dir = d
    input = s"$d/input"
    Inputs.dirty(spark, seed, 2, 100).drop("kind", "sid", "minute").write.parquet(s"$d/tiny")
    val bars = Inputs.dirty(spark, seed, size.etlSymbols, size.etlMinutes)
    bars.drop("kind", "sid", "minute").write.parquet(input)
    val byKind = bars.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    expected = Map(
      "rows_in" -> byKind.values.sum,
      "null_close" -> byKind("null_close"),
      "negative_volume" -> byKind("neg_volume"),
      "ohlc_violations" -> byKind("ohlc"))
    // rows with negative volume are dropped; every other row lands in
    // its symbol's 5-minute bucket
    buckets = bars.filter(col("kind") =!= "neg_volume")
      .select(col("sid"), floor(col("minute") / 5)).distinct().count()
  }

  /** One run over a tiny input: the same plans, compiled and run once. */
  def warmup(): Unit = {
    Pipeline.run(spark, spark.read.parquet(s"$dir/tiny"), config(Some(s"$dir/warmup")))
    Files.delete(s"$dir/warmup")
  }

  private def runOnce(cfg: Pipeline.Config): Pipeline.Result =
    Pipeline.run(spark, spark.read.parquet(input), cfg)

  def step(i: Int, traced: Boolean): Unit = {
    val out = s"$dir/out-$runs"
    runs += 1
    val (op, res) = timed("pipeline.run", traced)(sp("pipeline.run")(runOnce(config(Some(out)))))
    res.foreach { r =>
      expected.foreach { case (k, v) =>
        rec.check(op, s"report $k") {
          r.report.get(k).map(_.toString.toLong).contains(v)
        }
      }
      rec.check(op, "split sizes")(r.splitSizes == expectedSplit)
      rec.check(op, "rows written")(spark.read.parquet(out).count() == buckets)
    }
    Files.delete(out)
  }

  /** Split sizes as `Split.chronological` cuts them: the first
    * floor(n × cut) rows in time order per label. */
  private def expectedSplit: Map[String, Long] = {
    val ends = Cuts.map(c => math.floor(buckets * c).toLong) :+ buckets
    Labels.zip(ends.zip(0L +: ends).map { case (e, s) => e - s })
      .filter(_._2 > 0).toMap
  }

  def named(busyS: Double): Seq[Metric] =
    Seq(Metric("etl_s", Stats.median(rec.ms("pipeline.run")) / 1e3, "s"))

  /** Stage costs from `Pipeline.run` with the stages of its `Config`
    * switched off one at a time, in chain order: each figure is the run
    * time lost when that stage goes, with the stages after it already
    * off. `operators.split_ms` is what remains with every optional
    * stage off and no output: reading the input, the split and the
    * split-size count. */
  override def layers(d: String): Seq[Metric] = {
    val full = config(None)
    val chain = Seq(
      "normalize" -> full.copy(normalize = None),
      "indicators" -> full.copy(normalize = None, indicators = false),
      "resample" -> full.copy(normalize = None, indicators = false, resampleTo = None),
      "clean" -> full.copy(normalize = None, indicators = false, resampleTo = None,
        cleaning = Pipeline.CleaningConfig(dedup = false, fillCols = Nil,
          dropNegative = false, repairOhlc = false, timeFeatures = false)))
    var n = 0
    def timeRun(cfg: Pipeline.Config, write: Boolean): Double = {
      val out = s"$d/ablate-$n"
      n += 1
      val t0 = System.nanoTime()
      runOnce(if (write) cfg.copy(outputPath = Some(out)) else cfg)
      val ms = (System.nanoTime() - t0) / 1e6
      Files.delete(out)
      ms
    }
    val runMs = Stats.median(rec.ops.filter(o => o.ok && o.traced).map(_.ms).toSeq)
    val withWrite = (full +: chain.map(_._2)).map(c => timeRun(c, write = true))
    val bare = timeRun(chain.last._2, write = false)
    val stageMs = chain.map(_._1).zip(withWrite.zip(withWrite.tail).map { case (a, b) => a - b })
    Seq(Metric("pipeline.run_ms", runMs, "ms")) ++
      stageMs.map { case (s, ms) => Metric(s"operators.${s}_ms", ms, "ms") } ++
      Seq(Metric("operators.split_ms", bare, "ms"),
        Metric("sinks.lake_write_ms", withWrite.last - bare, "ms"))
  }
}
