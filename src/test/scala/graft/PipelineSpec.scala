package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.obs.{Cost, Ledger}
import graft.operators.Normalize
import graft.pipeline.Pipeline
import graft.sources.{Generator, Tables}

class PipelineSpec extends SparkSpec with PlanNodes {

  /** The repo benchmark's `etl_batch` shape, without an output path. */
  private val etlShape = Pipeline.Config(resampleTo = Some("5 minutes"),
    normalize = Some("zscore"), indicators = true,
    split = Pipeline.SplitConfig(Seq(0.7, 0.85), Seq("train", "val", "test")))

  private def countsBySplit(df: DataFrame): Map[String, Long] =
    df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("end-to-end: clean -> resample -> indicators -> split with one-pass report") {
    val bars = Generator.ohlcv(spark, Seq("btc", "eth"), 500, intervalSec = 60)
    val res = Pipeline.run(spark, bars, Pipeline.Config(
      resampleTo = Some("15 minutes"),
      indicators = true,
      split = Pipeline.SplitConfig(Seq(0.7, 0.85), Seq("train", "val", "test"))))
    assert(res.report("rows_in") == 1000L)
    assert(res.report("ohlc_violations") == 0L)
    val total = res.splitSizes.values.sum
    assert(total == res.data.count())
    assert(res.splitSizes.keySet == Set("train", "val", "test"))
    // resampled to 15m: 500 minutes -> ceil(500/15)=34 buckets per symbol
    assert(total == 68)
    assert(res.data.columns.contains("sma20") || res.data.columns.exists(_.startsWith("sma")))
  }

  test("dirty bars: report counts violations; cleaning repairs them") {
    val bars = Tables.bars(spark, sfDir)
    val res = Pipeline.run(spark, bars, Pipeline.Config())
    assert(res.report("rows_in").asInstanceOf[Long] > 0)
    assert(res.report("null_close").asInstanceOf[Long] > 0)
    assert(res.report("ohlc_violations").asInstanceOf[Long] > 0)
    // after repair no OHLC violations remain
    val bad = res.data.filter(graft.operators.Cleaning.ohlcInvalid()).count()
    assert(bad == 0)
    // splits are chronological: max train ts <= min test ts
    val cuts = res.data.groupBy("split")
      .agg(min("ts").as("mn"), max("ts").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[java.time.LocalDateTime](1), r.getAs[java.time.LocalDateTime](2))).toMap
    assert(!cuts("train")._2.isAfter(cuts("test")._1))
  }

  test("pipeline normalize stage runs post-resample with clean stats") {
    val bars = Generator.ohlcv(spark, Seq("xrp"), 400)
    val res = Pipeline.run(spark, bars, Pipeline.Config(
      resampleTo = Some("1 hour"),
      normalize = Some("zscore"),
      normalizeCols = Seq("close", "volume")))
    val stats = res.data.agg(
      org.apache.spark.sql.functions.avg("close"),
      org.apache.spark.sql.functions.stddev_samp("close")).collect().head
    assert(math.abs(stats.getDouble(0)) < 1e-9)
    assert(math.abs(stats.getDouble(1) - 1.0) < 1e-9)
  }

  test("config loader: defaults, deep-merge, dot-notation, e2e run") {
    import org.json4s._
    import graft.pipeline.ConfigLoader
    // defaults alone (missing file → reference's silent fallback)
    val dflt = ConfigLoader.load("/nonexistent/pipeline_config.json")
    assert(dflt.getDouble("split_config.train_test_split.test_size").contains(0.2))
    assert(dflt.getString("storage_config.compression").contains("snappy"))

    // a file overriding a NESTED field deep-merges: sibling keys survive
    val tmp = java.nio.file.Files.createTempDirectory("graft-cfg")
    val cfgPath = tmp.resolve("pipeline_config.json")
    java.nio.file.Files.writeString(cfgPath,
      """{"pipeline": "crypto",
        |  "pipeline_config": {
        |    "normalize": true, "normalize_method": "minmax",
        |    "aggregate": true, "aggregate_timeframe": "15m",
        |    "splits": {"train_test_split": {"test_size": 0.25}}
        |  },
        |  "db_config": {"port": 6543}}""".stripMargin)
    val v = ConfigLoader.load(cfgPath.toString)
    assert(v.get("db_config.port").contains(JInt(6543)))
    // deep-merge preserved the sibling default next to the override
    assert(v.getString("db_config.host").isDefined)
    assert(v.getString("pipeline_config.splits.train_test_split.method").isEmpty)
    assert(v.getDouble("pipeline_config.splits.train_test_split.test_size").contains(0.25))

    // dot-notation set creates intermediate levels; save round-trips
    val v2 = v.set("providers.bybit.testnet", JBool(false))
      .set("brand.new.key", JString("x"))
    assert(v2.getBool("providers.bybit.testnet").contains(false))
    assert(v2.getString("brand.new.key").contains("x"))
    val saved = tmp.resolve("saved.json")
    v2.save(saved.toString)
    assert(ConfigLoader.load(saved.toString).getString("brand.new.key").contains("x"))

    // arrays REPLACE on merge (reference merge_dict), never concatenate
    val arr = ConfigLoader.parse("""{"pipeline_config": {"assets": [1, 2]}}""")
      .set("pipeline_config.assets", JArray(List(JInt(9))))
    assert(arr.get("pipeline_config.assets").contains(JArray(List(JInt(9)))))

    // the mapped Pipeline.Config drives the e2e run
    val pc = v.toPipelineConfig
    assert(pc.resampleTo.contains("15 minutes"))
    assert(pc.normalize.contains("minmax"))
    assert(pc.split.cuts == Seq(0.75))
    val bars = Generator.ohlcv(spark, Seq("btc"), 300, intervalSec = 60)
    val res = Pipeline.run(spark, bars, pc.copy(outputPath = None))
    assert(res.splitSizes.keySet == Set("train", "test"))
    assert(res.splitSizes.values.sum == res.data.count())
  }

  test("RunPipeline CLI: config-driven per-asset fan-out with error isolation") {
    import graft.pipeline.RunPipeline
    val tmp = java.nio.file.Files.createTempDirectory("graft-runp")
    val cfgPath = tmp.resolve("pipeline_config.json")
    java.nio.file.Files.writeString(cfgPath,
      """{"pipeline": "crypto",
        |  "pipeline_config": {
        |    "assets": [{"symbol": "click", "timeframe": "1h"},
        |               {"symbol": "view", "timeframe": "1h"}],
        |    "aggregate": true, "aggregate_timeframe": "1h",
        |    "splits": {"train_test_split": {"test_size": 0.2}},
        |    "save_files": false
        |  }}""".stripMargin)
    val summary = RunPipeline.run(spark, cfgPath.toString, sfDir, None)
    assert(summary.keySet == Set("click", "view"))
    assert(summary.values.forall(_.startsWith("rows=")))
    assert(summary("click").contains("train="))
    // missing config file → defaults, single "all" asset; defaults have
    // save_files=true, so redirect data_dir into the temp dir (never the
    // working directory)
    val dflt = RunPipeline.run(spark, "/nonexistent.json", sfDir,
      Some(tmp.resolve("out").toString))
    assert(dflt.keySet == Set("all") && dflt("all").startsWith("rows="))
    assert(java.nio.file.Files.exists(tmp.resolve("out/all")))
  }

  test("pipeline writes the partitioned lake when configured") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString + "/lake"
    val bars = Generator.ohlcv(spark, Seq("sol"), 200)
    Pipeline.run(spark, bars, Pipeline.Config(outputPath = Some(dir)))
    val back = graft.sinks.Lake.readArchive(spark, dir)
    assert(back.count() == 200)
    assert(back.columns.contains("split") && back.columns.contains("year"))
  }

  test("with an outputPath, Pipeline.run is one Spark query that reads its " +
      "input once; the split sizes ride the write") {
    val bars = Tables.bars(spark, sfDir)
    val dir = TempDirs.create("graft-pipe-one") + "/lake"
    val counted = Pipeline.run(spark, bars, etlShape)
    var res: Pipeline.Result = null
    var cost: Cost = null
    val qes = captured {
      val (r, c) = Ledger.scope(spark)(
        Pipeline.run(spark, bars, etlShape.copy(outputPath = Some(dir))))
      res = r; cost = c
    }
    assert(cost.queries == 1, s"${cost.queries} queries, ${cost.jobs} jobs")
    val plan = allNodes(qes)
    assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) &&
      !cost.operators.exists(_.node == "BroadcastNestedLoopJoin"))
    // the input is scanned once, and exactly one exchange carries it into
    // the cleaning windows (an exchange with the scan but no window below)
    def scanned(p: SparkPlan) = nodes(p).exists(_.isInstanceOf[FileSourceScanExec])
    assert(plan.count(_.isInstanceOf[FileSourceScanExec]) == 1)
    val intoCleaning = plan.collect { case e: ShuffleExchangeLike
      if scanned(e) && !nodes(e).exists(_.isInstanceOf[WindowExec]) => e }
    assert(intoCleaning.size == 1, intoCleaning.mkString("\n"))
    assert(res.splitSizes == countsBySplit(spark.read.parquet(dir)))
    assert(res.splitSizes == counted.splitSizes)
    assert(res.report == counted.report)
  }

  test("the chronological split orders tied timestamps by symbol: two runs " +
      "over differently partitioned copies label every row the same") {
    // 8 symbols share every 15-minute bucket; both cuts fall inside one
    val bars = Generator.ohlcv(spark, (1 to 8).map(i => s"s$i"), 300)
    val labels = Seq("train", "val", "test")
    val cfg = Pipeline.Config(resampleTo = Some("15 minutes"),
      split = Pipeline.SplitConfig(Seq(0.63, 0.81), labels))
    def labelled(in: DataFrame, partitions: Int): Seq[Row] = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, partitions.toString)
      try Pipeline.run(spark, in, cfg).data.select("ts", "symbol", "split")
        .orderBy("ts", "symbol").collect().toSeq
      finally spark.conf.set(key, prev)
    }
    val a = labelled(bars.repartition(1), 4)
    val b = labelled(bars.repartition(7, col("symbol")), 3)
    val moved = a.zip(b).filter { case (x, y) => x != y }
    assert(a.size == 160 && b.size == 160 && moved.isEmpty,
      s"${moved.size} rows labelled differently, first ${moved.headOption}")
    // labels never step back along (ts, symbol), and the cuts are ⌊n·cut⌋
    val idx = a.map(r => labels.indexOf(r.getString(2)))
    assert(idx == idx.sorted)
    assert(idx.count(_ == 0) == 100 && idx.count(_ == 1) == 29)
  }

  test("the pipeline's window-fit z-score and min-max columns equal the " +
      "broadcast fit bit for bit (sf0.01 bars)") {
    val bars = Tables.bars(spark, s"${new java.io.File(sfDir).getParent}/sf0.01")
    val cols = Seq("open", "high", "low", "close", "volume")
    val base = etlShape.copy(normalize = None)
    val plain = Pipeline.run(spark, bars, base).data
    def bits(df: DataFrame, cs: Seq[String]): Map[Seq[Any], Seq[Option[Long]]] =
      df.select((col("symbol") +: col("ts") +: cs.map(col)): _*).collect().map { r =>
        Seq(r.get(0), r.get(1)) -> cs.indices.map(i => Option.when(!r.isNullAt(i + 2))(
          java.lang.Double.doubleToRawLongBits(r.getDouble(i + 2))))
      }.toMap
    for (method <- Seq("zscore", "minmax")) {
      val (broadcastFit, windowFit, transform) = method match {
        case "zscore" => (Normalize.zscoreFit(plain, cols),
          Normalize.zscoreFitWindow(plain, cols), Normalize.zscoreTransform _)
        case _ => (Normalize.minmaxFit(plain, cols),
          Normalize.minmaxFitWindow(plain, cols), Normalize.minmaxTransform _)
      }
      val stats = broadcastFit.columns.filter(_.startsWith("__")).toSeq
      def statBits(df: DataFrame) =
        df.select(stats.map(col): _*).distinct().collect().toSeq
          .map(_.toSeq.map(v => java.lang.Double.doubleToRawLongBits(
            v.asInstanceOf[Double])))
      assert(statBits(windowFit).size == 1)
      assert(statBits(windowFit) == statBits(broadcastFit), method)
      val want = bits(Normalize.finish(transform(broadcastFit, cols)), cols)
      val got = bits(Pipeline.run(spark, bars,
        base.copy(normalize = Some(method))).data, cols)
      assert(want.size == plain.count() && got == want, method)
    }
  }
}
