package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.operators._

/** Degenerate-input hardening: empty frames, single rows, all-null columns,
  * and sub-window-size documents must flow through every operator without
  * crashing (Spark's `sequence(a, b)` counts DOWN when b < a — this class
  * of bug bites silently at scale when one partition is empty or short).
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val barSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("symbol", StringType),
    StructField("ts", TimestampNTZType), StructField("open", DoubleType),
    StructField("high", DoubleType), StructField("low", DoubleType),
    StructField("close", DoubleType), StructField("volume", DoubleType)))

  private lazy val emptyBars =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], barSchema)

  private lazy val oneBar = spark.createDataFrame(
    java.util.List.of(Row(1L, "s", java.time.LocalDateTime.of(2024, 1, 1, 0, 0),
      1.0, 2.0, 0.5, 1.5, 10.0)), barSchema)

  private val order = Seq(col("ts"), col("event_id"))

  test("cleaning chain on empty and single-row frames") {
    for (df <- Seq(emptyBars, oneBar)) {
      val out = Cleaning.addTimeFeatures(Cleaning.repairOhlc(
        Cleaning.filterNonNegative(Cleaning.bfill(Cleaning.ffill(
          Cleaning.dedupKeepFirst(df, Seq("symbol", "ts"), order),
          Seq("close"), Seq("symbol"), order), Seq("close"), Seq("symbol"), order))))
      assert(out.count() == df.count())
    }
  }

  test("series-fused dedup keeps exactly dedupKeepFirst's rows, incl. null ts") {
    import spark.implicits._
    val rows = Seq(
      ("a", Some("2024-01-01 10:00:00"), 1L), ("a", Some("2024-01-01 10:00:00"), 2L),
      ("a", Some("2024-01-01 11:00:00"), 3L),
      ("a", None, 4L), ("a", None, 5L), // null-ts run: keep one
      ("b", Some("2024-01-01 10:00:00"), 6L),
      ("b", None, 7L)
    ).toDF("symbol", "ts_s", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val generic = Cleaning.dedupKeepFirst(rows, Seq("symbol", "ts"), Seq(col("event_id")))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val fused = Cleaning.dedupKeepFirstSeries(rows, Seq("symbol"), col("ts"), Seq(col("event_id")))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(fused == generic)
    assert(fused == Set(1L, 3L, 4L, 6L, 7L))
  }

  test("resample, fillGaps, indicators on empty and single-row frames") {
    for (df <- Seq(emptyBars, oneBar)) {
      assert(Resample.fillGaps(Resample.ohlcv(df, "1 hour"), "1 hour").count() == df.count())
      assert(Indicators.withIndicators(df, Seq(col("symbol")), Seq(col("ts")))
        .count() == df.count())
    }
  }

  test("window-fit normalization and the one-query pipeline on empty and " +
      "single-row frames") {
    import graft.pipeline.Pipeline
    val cols = Seq("open", "volume")
    assert(Normalize.zscoreFitWindow(emptyBars, cols).count() == 0)
    assert(Normalize.minmaxFitWindow(emptyBars, cols).count() == 0)
    // the sample σ of one row is NULL (n − 1 = 0), as var_samp gives, in
    // both fit forms and in the z-score outlier filter
    Seq(Normalize.zscoreFit(oneBar, cols), Normalize.zscoreFitWindow(oneBar, cols))
      .foreach { fit =>
        val r = fit.select("__mu_open", "__sd_open").head()
        assert(r.getDouble(0) == 1.0 && r.isNullAt(1))
      }
    assert(Cleaning.zscoreNullify(oneBar, cols).select("open").head().getDouble(0) == 1.0)
    val cfg = Pipeline.Config(resampleTo = Some("5 minutes"), indicators = true)
    for ((df, method, sizes) <- Seq((emptyBars, "zscore", Map.empty[String, Long]),
        (emptyBars, "minmax", Map.empty[String, Long]),
        (oneBar, "zscore", Map("test" -> 1L)))) {
      val dir = TempDirs.create("graft-edge-pipe") + "/lake"
      val counted = Pipeline.run(spark, df, cfg.copy(normalize = Some(method)))
      val res = Pipeline.run(spark, df,
        cfg.copy(normalize = Some(method), outputPath = Some(dir)))
      // a label with no rows is left out, as the groupBy count leaves it out
      assert(res.splitSizes == sizes && counted.splitSizes == sizes)
      assert(res.report == counted.report)
      // an input with no partitions still reports its zero rows
      Seq(res, counted).foreach(r => assert(r.report("rows_in") == df.count()))
    }
  }

  test("normalization and splits on empty frames") {
    val cols = Seq("open", "volume")
    assert(Normalize.finish(Normalize.zscoreTransform(
      Normalize.zscoreFit(emptyBars, cols), cols)).count() == 0)
    assert(Split.chronological(emptyBars, order, Seq(0.8), Seq("a", "b")).count() == 0)
    assert(Split.slidingWindows(emptyBars, Seq(col("symbol")), order,
      col("close"), 8, 2, 4).count() == 0)
    assert(Split.slidingWindows(oneBar, Seq(col("symbol")), order,
      col("close"), 8, 2, 4).count() == 0) // shorter than window+target
    assert(Split.slidingWindowsMulti(emptyBars, Seq(col("symbol")), order,
      Seq("open", "close"), 8, 2, 4).count() == 0)
    assert(Split.slidingWindowsMulti(oneBar, Seq(col("symbol")), order,
      Seq("open", "close"), 8, 2, 4).count() == 0)
  }

  test("config loader survives malformed JSON; k-means rejects tiny samples") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-badcfg")
    val bad = tmp.resolve("bad.json")
    java.nio.file.Files.writeString(bad, "{not json at all")
    // reference config_manager.py:66-73 warns and keeps defaults
    val v = graft.pipeline.ConfigLoader.load(bad.toString)
    assert(v.getDouble("split_config.train_test_split.test_size").contains(0.2))
    // k-means: a sample smaller than k must fail loudly, not train garbage
    val tiny = Seq((0L, Array(1.0f, 0.0f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VectorOps.kmeansCodebook(tiny, k = 8, iters = 2, sampleMod = 3)
    }
    assert(e.getMessage.contains("sample"))
  }

  test("dedup and text ops on empty, whitespace, and sub-shingle docs") {
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "one"), (4L, "two words")
    ).toDF("doc_id", "text")
    // < 3 tokens → empty shingle set → null minhash columns, no crash
    val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 3)
    assert(sig.count() == 4)
    assert(sig.filter(col("mh00").isNull).count() == 4)
    assert(Dedup.lshCandidatePairs(sig, 4, 4).count() >= 0)
    val sh = Dedup.simhash(docs, col("text"), col("doc_id"))
    assert(sh.count() == 4) // map-only: token-less docs stay, simhash 0
    assert(sh.filter(col("doc_id") <= 2).filter(col("simhash") === 0).count() == 2)
    // at-scale jaccard: empty/whitespace docs form classes with empty token
    // sets — never paired (jaccard undefined), and the op doesn't throw
    val jp = Dedup.jaccardPairsAtScale(docs, col("text"), col("doc_id"), 0.5)
    assert(jp.filter(col("doc_id1") <= 2 || col("doc_id2") <= 2).count() == 0)
    assert(Dedup.jaccardPairsAtScale(docs.limit(0), col("text"), col("doc_id"), 0.5)
      .count() == 0) // empty frame
    val t = docs.select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.langId(col("text")).as("l"),
      TextOps.fingerprint(col("text")).as("f")).collect()
    assert(t.length == 4)
    val empty = docs.filter(col("doc_id") === 1L).select(
      TextOps.qualityScore(col("text"))).head.getDouble(0)
    assert(empty == 0.0)
  }

  test("repetition, shape, verdict, and PII scrub on degenerate docs") {
    val docs = Seq(
      (1L, ""), // empty: every ratio 0, verdict too_short
      (2L, "one"), // sub-n-gram: rep ratios 0
      (3L, "spam spam spam spam"), // fully repetitive 2-grams
      (4L, "mail me at bob@example.com or 10.0.0.1 or 555-1234 ok")
    ).toDF("doc_id", "text")
    val r = docs.select(
      col("doc_id"),
      TextOps.repeatedNgramRatio(col("text"), 2).as("rep2"),
      TextOps.meanWordLength(col("text")).as("mwl"),
      TextOps.symbolRatio(col("text")).as("sym"),
      TextOps.filterVerdict(col("text")).as("v"),
      TextOps.scrubPii(col("text")).as("scrubbed"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getDouble(1) == 0.0 && r(1L).getDouble(2) == 0.0 &&
      r(1L).getDouble(3) == 0.0 && r(1L).getString(4) == "too_short")
    assert(r(2L).getDouble(1) == 0.0) // 1 token, no 2-grams
    assert(r(3L).getDouble(1) == 2.0 / 3.0) // 3 bigrams, 1 distinct
    assert(r(4L).getString(5) ==
      "mail me at [EMAIL] or [IP] or [PHONE] ok")
    // scrub is idempotent: replacement tokens match no pattern
    val again = docs.filter(col("doc_id") === 4L)
      .select(TextOps.scrubPii(TextOps.scrubPii(col("text")))).head.getString(0)
    assert(again == "mail me at [EMAIL] or [IP] or [PHONE] ok")
    // a dotted mail domain must not be half-eaten by the IP rule
    val ipMail = Seq((1L, "x 1.2.3.4@example.com y")).toDF("doc_id", "text")
      .select(TextOps.scrubPii(col("text"))).head.getString(0)
    assert(ipMail == "x [EMAIL] y")
  }

  test("vector ops on empty corpus and as-of with empty right side") {
    val emptyVecs = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(VectorOps.bruteTopK(q, emptyVecs, 5).count() == 0)
    val probes = Seq(("s", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L))
      .toDF("symbol", "ts", "id")
    val emptyQuotes = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("symbol", StringType),
        StructField("ts", TimestampType), StructField("close", DoubleType))))
    val out = AsOfJoin.asof(probes, emptyQuotes, Seq("symbol"), "ts", Seq("close"))
    assert(out.count() == 1 && out.select("right_close").head.isNullAt(0))
  }
}
