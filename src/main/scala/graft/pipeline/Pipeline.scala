package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cleaning, Indicators, Normalize, Resample, Split}
import graft.sinks.Lake

/** End-to-end pipeline driver — the Spark shape of the reference's
  * `CryptoPipeline.run_pipeline_single` (crypto_pipeline.py:340-489):
  * extract → validate/clean (+ one-pass report) → [normalize] → [resample]
  * → [indicators] → split → write.
  *
  * Where the reference materializes 12 intermediate frames and walks rows
  * in Python, this declares ONE lazy DataFrame DAG and runs it as ONE
  * Spark query, reading the input once:
  *
  *  - the §2.3 validation report rides the DAG as `observe()` metrics on
  *    the input;
  *  - z-score / min-max stats are whole-frame window aggregates
  *    ([[Normalize.zscoreFitWindow]]) sharing the one-partition exchange
  *    the chronological split's row count already needs, instead of a
  *    broadcast fit that would read the upstream a second time;
  *  - with an `outputPath`, the split sizes are a second observation
  *    riding the `Lake.writeArchive` write (one `sum(when(split = label))`
  *    per label, labels with no rows dropped). Without one, a
  *    `groupBy("split").count()` is the run's only action.
  *
  * Deliberate semantic changes from the reference (SURVEY §7.3.6-7):
  * normalization happens AFTER resampling (the reference normalizes first,
  * so aggregated volume sums z-scores — a documented bug, not a feature),
  * and the dead `store_metadata` / unconditional-upsert paths are gone.
  */
object Pipeline {

  case class Config(
      cleaning: CleaningConfig = CleaningConfig(),
      resampleTo: Option[String] = None, // e.g. "1 hour"
      normalize: Option[String] = None, // zscore | minmax | log
      normalizeCols: Seq[String] = Seq("open", "high", "low", "close", "volume"),
      indicators: Boolean = false,
      split: SplitConfig = SplitConfig(),
      outputPath: Option[String] = None)

  case class CleaningConfig(
      dedup: Boolean = true,
      fillCols: Seq[String] = Seq("close"),
      dropNegative: Boolean = true,
      repairOhlc: Boolean = true,
      timeFeatures: Boolean = true)

  case class SplitConfig(cuts: Seq[Double] = Seq(0.8),
      labels: Seq[String] = Seq("train", "test"))

  case class Result(data: DataFrame, report: Map[String, Any], splitSizes: Map[String, Long])

  /** Input contract: symbol, ts, open, high, low, close, volume (+ id col
    * used for deterministic dedup ordering when present).
    */
  def run(spark: SparkSession, bars: DataFrame, config: Config): Result = {
    val order =
      if (bars.columns.contains("event_id")) Seq(col("ts"), col("event_id"))
      else Seq(col("ts"))

    // ---- validate + clean, report riding along as observed metrics
    val obs = Observation("validation")
    val checks = Seq(
      "rows_in" -> count(lit(1)),
      "null_close" -> count_if(col("close").isNull),
      "ohlc_violations" -> count_if(Cleaning.ohlcInvalid()),
      "negative_volume" -> count_if(col("volume") < 0))
    val metrics = checks.map { case (name, metric) => metric.as(name) }
    val observed = bars.observe(obs, metrics.head, metrics.tail: _*)

    var df = observed
    val c = config.cleaning
    if (c.dedup) df = Cleaning.dedupKeepFirstSeries(df, Seq("symbol"),
      col("ts"), order.drop(1)) // order.head IS ts; tiebreak is the rest
    if (c.fillCols.nonEmpty) {
      df = Cleaning.ffill(df, c.fillCols, Seq("symbol"), order)
      df = Cleaning.bfill(df, c.fillCols, Seq("symbol"), order)
    }
    if (c.dropNegative) df = Cleaning.filterNonNegative(df)
    if (c.repairOhlc) df = Cleaning.repairOhlc(df)
    if (c.timeFeatures) df = Cleaning.addTimeFeatures(df, "ts")

    // ---- resample, indicators, normalize (post-aggregation, see Scaladoc)
    config.resampleTo.foreach { freq =>
      df = Resample.ohlcv(df, freq)
        .withColumnRenamed("bucket_ts", "ts")
    }
    if (config.indicators)
      df = Indicators.withIndicators(df, Seq(col("symbol")), Seq(col("ts")))
    config.normalize.foreach {
      case "zscore" =>
        df = Normalize.finish(Normalize.zscoreTransform(
          Normalize.zscoreFitWindow(df, config.normalizeCols), config.normalizeCols))
      case "minmax" =>
        df = Normalize.finish(Normalize.minmaxTransform(
          Normalize.minmaxFitWindow(df, config.normalizeCols), config.normalizeCols))
      case "log" =>
        df = Normalize.logTransform(df, config.normalizeCols)
      case other => throw new IllegalArgumentException(s"unknown normalize: $other")
    }

    // ---- chronological split label; symbol orders the bars that share a
    // timestamp (every resampled bucket), event_id the rest when present
    df = Split.chronological(df, Seq(col("ts"), col("symbol")) ++
      (if (df.columns.contains("event_id")) Seq(col("event_id")) else Nil),
      config.split.cuts, config.split.labels)

    // ---- write (partitioned lake) or count; either action also fills
    // the validation report
    val sizes = config.outputPath match {
      case Some(path) =>
        val labels = config.split.labels.distinct
        val counted = Observation()
        val counts = labels.indices.map(i =>
          sum(when(col("split") === labels(i), 1L)).as(s"n$i"))
        Lake.writeArchive(df.observe(counted, counts.head, counts.tail: _*), path)
        val m = counted.get
        labels.indices.flatMap(i => m.get(s"n$i").collect {
          case n: Long if n > 0 => labels(i) -> n
        }).toMap
      case None =>
        df.groupBy("split").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // an input with no partitions never runs the observed node, so Spark
    // reports no metrics at all: its report is that of no rows, all zeros
    val report = obs.get
    Result(df, if (report.nonEmpty) report
      else checks.map(_._1 -> (0L: Any)).toMap, sizes)
  }

  /** Persist a run's validation report + per-metric quality rows through
    * the metadata store (reference crypto_pipeline.py:293-305
    * `store_validation_report` → metadata_db.py:258-320): bootstrap the
    * tables, upsert the dataset registry row, then the report keyed
    * (dataset_id, validation_timestamp) and one data_quality_metrics row
    * per numeric report entry. Idempotent end to end — a replayed run
    * overwrites itself instead of appending duplicates.
    */
  def persistReport(spark: SparkSession, result: Result, datasetName: String,
      provider: String, symbol: String, timeframe: String,
      at: java.sql.Timestamp,
      connect: () => java.sql.Connection): Long = {
    import graft.sinks.MetaStore
    MetaStore.bootstrap(connect)
    val dsId = MetaStore.datasetId(datasetName, provider, symbol, timeframe)
    val reportAll = result.report ++
      result.splitSizes.map { case (k, v) => s"split_$k" -> v }
    MetaStore.storeDatasetMetadata(
      MetaStore.datasetMetadataDf(spark, datasetName, provider, symbol,
        timeframe, result.splitSizes.values.sum, at, at), connect)
    MetaStore.storeValidationReport(spark, dsId, reportAll, at, connect)
    MetaStore.storeQualityMetrics(spark, dsId, reportAll, at, connect)
    dsId
  }
}
