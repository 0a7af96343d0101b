package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Normalize, Resample, Split}

/** Property-style invariants from SURVEY §5's test plan, on ScalaCheck-
  * generated frames with FIXED seeds (the reference's unseeded fixtures are
  * a defect we don't copy): normalize∘denormalize ≈ id, resample OHLC
  * invariants, monotone row counts across frames, split conservation.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val barGen: Gen[(String, Long, Double, Double, Double, Double, Double)] =
    for {
      sym <- Gen.oneOf("AAA", "BBB", "CCC")
      i <- Gen.choose(0L, 50000L)
      o <- Gen.choose(1.0, 1000.0)
      c <- Gen.choose(1.0, 1000.0)
      hiPad <- Gen.choose(0.0, 10.0)
      loPad <- Gen.choose(0.0, 10.0)
      v <- Gen.choose(0.0, 1e6)
    } yield (sym, i * 60, o, math.max(o, c) + hiPad, math.min(o, c) - loPad, c, v)

  private def frames(n: Int, seed: Long) = {
    val params = org.scalacheck.Gen.Parameters.default
    (0 until n).flatMap(k => barGen.apply(params, Seed(seed + k))).distinct
  }

  private lazy val bars = {
    val rows = frames(400, 7L)
    rows.map { case (s, secs, o, h, l, c, v) =>
      (s, java.time.LocalDateTime.ofEpochSecond(1700000000L + secs, 0,
        java.time.ZoneOffset.UTC), o, h, l, c, v)
    }.toDF("symbol", "ts", "open", "high", "low", "close", "volume")
      .dropDuplicates("symbol", "ts")
  }

  test("property: zscore and minmax round-trip to identity (1e-9)") {
    for (method <- Seq("zscore", "minmax")) {
      val cols = Seq("open", "volume")
      val fitted = method match {
        case "zscore" => Normalize.zscoreFit(bars, cols)
        case "minmax" => Normalize.minmaxFit(bars, cols)
      }
      val fwd = method match {
        case "zscore" => Normalize.zscoreTransform(fitted, cols)
        case "minmax" => Normalize.minmaxTransform(fitted, cols)
      }
      val back = Normalize.finish(method match {
        case "zscore" => Normalize.zscoreInverse(fwd, cols)
        case "minmax" => Normalize.minmaxInverse(fwd, cols)
      })
      val diff = back.join(bars.select(col("symbol"), col("ts"),
          col("open").as("o0"), col("volume").as("v0")), Seq("symbol", "ts"))
        .select(max(abs(col("open") - col("o0")) / abs(col("o0"))).as("d1"),
          max(abs(col("volume") - col("v0")) / greatest(abs(col("v0")), lit(1.0))).as("d2"))
        .collect().head
      assert(diff.getDouble(0) < 1e-9 && diff.getDouble(1) < 1e-9, s"method=$method")
    }
  }

  test("property: log round-trips to identity (1e-9)") {
    val fwd = Normalize.logTransform(bars, Seq("volume"))
    val back = Normalize.logInverse(fwd, Seq("volume"))
    val diff = back.join(bars.select(col("symbol"), col("ts"), col("volume").as("v0")),
        Seq("symbol", "ts"))
      .select(max(abs(col("volume") - col("v0")) / greatest(abs(col("v0")), lit(1.0))))
      .collect().head.getDouble(0)
    assert(diff < 1e-9)
  }

  test("property: resampled buckets keep OHLC invariants and conserve volume") {
    for (freq <- Seq("15 minutes", "1 hour", "1 day")) {
      val agg = Resample.ohlcv(bars, freq)
      val bad = agg.filter(
        col("high") < col("open") || col("high") < col("close") ||
          col("low") > col("open") || col("low") > col("close") ||
          col("high") < col("low")).count()
      assert(bad == 0, s"freq=$freq")
      val vIn = bars.agg(sum("volume")).collect().head.getDouble(0)
      val vOut = agg.agg(sum("volume")).collect().head.getDouble(0)
      assert(math.abs(vIn - vOut) / vIn < 1e-9, s"freq=$freq")
      val nIn = bars.agg(sum(lit(1))).collect().head.getLong(0)
      assert(agg.count() <= nIn)
    }
    // monotone row counts across coarser frames (reference test_processing:165)
    val counts = Seq("15 minutes", "1 hour", "1 day")
      .map(f => Resample.ohlcv(bars, f).count())
    assert(counts.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("property: quantile-cutoff split approximates fractions, preserves order") {
    val out = Split.chronologicalAtScale(bars, col("ts"), Seq(0.8), Seq("train", "test"))
    val sizes = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = bars.count()
    assert(sizes.values.sum == n)
    val frac = sizes("train").toDouble / n
    assert(frac > 0.7 && frac < 0.9, s"train frac $frac")
    val ranges = out.groupBy("split").agg(min("ts").as("mn"), max("ts").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[java.time.LocalDateTime](1), r.getAs[java.time.LocalDateTime](2))).toMap
    assert(!ranges("train")._2.isAfter(ranges("test")._1))
  }

  test("property: exact rank-cutoff split matches the row_number split counts") {
    // tie-free timestamps: rank-based cuts must reproduce chronological()
    val tieFree = bars.dropDuplicates("ts")
    val exact = Split.chronologicalAtScale(tieFree, col("ts"),
        Seq(0.7, 0.85), Seq("train", "val", "test"), exact = true)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rowNum = Split.chronological(tieFree, Seq(col("ts")),
        Seq(0.7, 0.85), Seq("train", "val", "test"))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == rowNum)
  }

  test("property: wordNgrams zip_with build == sliding-window reference, any (doc, n)") {
    // Pins the slice/zip_with gram construction (the lambda-CSE perf fix)
    // to the obvious Scala reference across doc lengths 0..12, including
    // docs shorter than n, repeated tokens, and multi-space runs.
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "yy")
    val docGen = for {
      k <- Gen.choose(0, 12)
      ws <- Gen.listOfN(k, wordGen)
      sep <- Gen.oneOf(" ", "  ") // consecutive spaces → empty tokens, filtered
    } yield ws.mkString(sep)
    val params = org.scalacheck.Gen.Parameters.default
    val docs = (0 until 120).flatMap(i => docGen.apply(params, Seed(31L + i)))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    for (n <- Seq(2, 3, 5, 8)) {
      val got = df.select(col("doc_id"),
          graft.functions.TextHash.wordNgrams(
            graft.functions.TextHash.tokens(col("text")), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      docs.foreach { case (id, t) =>
        val toks = t.split(" ").filter(_.nonEmpty).toSeq
        val want = if (toks.length < n) Seq.empty
          else toks.sliding(n).map(_.mkString(" ")).toSeq
        assert(got(id) == want, s"doc $id n=$n: ${got(id)} != $want")
      }
    }
  }

  test("property: class-collapsed jaccard == doc-level jaccard on random corpora") {
    import graft.operators.Dedup
    // random docs over a tiny vocab -> dense duplication and many
    // identical token sets, exercising class collapse + intra-class pairs
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rnd = new scala.util.Random(42)
    val docs = (1 to 120).map { i =>
      val n = 1 + rnd.nextInt(5)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (minJ <- Seq(0.3, 0.8)) {
      val sig = Dedup.minhashSignature(docs, col("text"), col("doc_id"), 16, 1)
      val docLevel = Dedup.jaccardOnCandidates(docs, col("text"), col("doc_id"),
          Dedup.lshCandidatePairs(sig, 4, 4), minJ)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      val atScale = Dedup.jaccardPairsAtScale(docs, col("text"), col("doc_id"), minJ)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      assert(atScale == docLevel, s"minJ=$minJ")
      assert(atScale.nonEmpty) // the corpus is dense enough to mean something
    }
  }

  test("property: multi-feature window count = max(0, (n-w-t)/s + 1), any (w,t,s)") {
    import spark.implicits._
    val series = (1 to 97).map(i => ("A", i.toLong, i * 1.0, i * 2.0))
      .toDF("symbol", "id", "open", "volume")
    for ((w, t, s) <- Seq((8, 2, 4), (3, 1, 1), (10, 3, 7), (50, 40, 5),
        (96, 1, 1), (97, 1, 1), (5, 2, 100))) {
      val out = Split.slidingWindowsMulti(series, Seq(col("symbol")),
        Seq(col("id")), Seq("open", "volume"), w, t, s)
      val expected = math.max(0L, (97L - w - t) / s + 1)
      assert(out.count() == expected, s"(w,t,s)=($w,$t,$s)")
      // shapes hold for every emitted window
      val shapes = out.selectExpr("size(x_open)", "size(y_open)",
        "size(x_volume)", "size(y_volume)").distinct().collect()
      assert(shapes.forall(r => r.getInt(0) == w && r.getInt(1) == t &&
        r.getInt(2) == w && r.getInt(3) == t), s"(w,t,s)=($w,$t,$s)")
    }
  }

  test("property: chain-aware drop list is a SUBSET of the greedy drop list") {
    import spark.implicits._
    import graft.operators.Dedup
    // random signature corpora with heavy collisions so band edges form
    // chains as well as cliques; the kept-survivor resolution may only
    // RESCUE documents relative to greedy, never drop extra ones
    for (seed <- Seq(3L, 11L, 42L)) {
      val rnd = new scala.util.Random(seed)
      val sig = (1 to 120).map { i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(4).toLong,
          rnd.nextInt(4).toLong, rnd.nextInt(4).toLong)
      }.toDF("doc_id", "mh00", "mh01", "mh02", "mh03")
      val greedy = Dedup.dropListAtScale(sig, 2, 2, minAgree = 3)
        .collect().map(_.getLong(0)).toSet
      val chainAware = Dedup.dropListConnected(sig, 2, 2, minAgree = 3)
        .collect().map(_.getLong(0)).toSet
      assert(chainAware.subsetOf(greedy), s"seed=$seed")
      assert(greedy.nonEmpty, s"seed=$seed corpus produced no duplicates")
    }
  }

  test("property: rollup rewrite never changes results; fires iff the shape is servable") {
    import graft.functions.{exactAvg, exactSum}
    import graft.plans.{RollupCatalog, RollupRewrite}
    import org.apache.spark.sql.Column

    // file-backed raw + 15-minute roll-up (registration keys on file paths)
    val base = java.nio.file.Files.createTempDirectory("graft-fuzz").toString
    bars.write.parquet(s"$base/raw")
    val raw = spark.read.parquet(s"$base/raw")
    Resample.ohlcvRollup(raw, "15 minutes", exactCols = Seq("volume", "close"))
      .withColumnRenamed("bucket_ts", "ts")
      .write.parquet(s"$base/rollup")

    def scans(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.collectLeaves().flatMap {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        case _ => Nil
      }.mkString("\n")

    // (label, column, servable, deterministic given symbol-in-grouping)
    case class Shape(label: String, c: Column, servable: Boolean,
        det: Boolean => Boolean = _ => true)
    val aggPool = Seq(
      Shape("max_high", max(col("high")), servable = true),
      Shape("min_low", min(col("low")), servable = true),
      Shape("exact_sum_vol", exactSum(col("volume")), servable = true),
      Shape("count_star", count(lit(1)), servable = true),
      Shape("count_close", count(col("close")), servable = true),
      Shape("exact_avg_close", exactAvg(col("close")), servable = true),
      // first/last compose only with symbol in the grouping; ties across
      // symbols also make the RAW result order-dependent, so determinism
      // carries the same condition
      Shape("minby_open", min_by(col("open"), col("ts")), servable = true, det = sym => sym),
      Shape("maxby_close", max_by(col("close"), col("ts")), servable = true, det = sym => sym),
      // wrong role / wrong lattice — must veto, results still deterministic
      Shape("max_open", max(col("open")), servable = false),
      Shape("min_high", min(col("high")), servable = false),
      Shape("sum_dec18", sum(col("volume").cast("decimal(18,4)")), servable = false),
      // hazard class — must veto; raw result itself is order-dependent,
      // so only the no-rewrite half is asserted
      Shape("plain_sum_vol", sum(col("volume")), servable = false, det = _ => false),
      Shape("avg_close", avg(col("close")), servable = false, det = _ => false),
      Shape("minby_neg", min_by(col("open"),
        -unix_micros(col("ts").cast("timestamp"))), servable = false, det = _ => false),
      Shape("minby_trunc", min_by(col("open"),
        date_trunc("day", col("ts"))), servable = false, det = _ => false))
    // (label, window column, tumbling-aligned-and-dividing)
    val winPool = Seq(
      ("w30m", window(col("ts"), "30 minutes"), true),
      ("w45m", window(col("ts"), "45 minutes"), true),
      ("w1h", window(col("ts"), "1 hour"), true),
      ("w2h", window(col("ts"), "2 hours"), true),
      ("w7m", window(col("ts"), "7 minutes"), false),
      ("w50m", window(col("ts"), "50 minutes"), false),
      ("w1h_slide", window(col("ts"), "1 hour", "30 minutes"), false),
      ("w1h_neg", window(col("ts"), "1 hour", "1 hour", "-7 minutes"), false),
      ("w1h_pos", window(col("ts"), "1 hour", "1 hour", "5 minutes"), false))
    // (label, grouping columns given the window, symbol-in-grouping, servable)
    val groupPool = Seq(
      ("sym", (w: Column) => Seq(col("symbol"), w), true, true),
      ("nosym", (w: Column) => Seq(w), false, true),
      ("extra_close", (w: Column) => Seq(col("symbol"), w, col("close")), true, false))

    val rnd = new scala.util.Random(42)
    spark.experimental.extraOptimizations = Seq(RollupRewrite)
    try {
      RollupCatalog.register(raw, 15L * 60 * 1000000,
        spark.read.parquet(s"$base/rollup"))
      var fired = 0
      for (trial <- 0 until 40) {
        val (wl, w, aligned) = winPool(rnd.nextInt(winPool.size))
        val (gl, gs, hasSym, gOk) = groupPool(rnd.nextInt(groupPool.size))
        // half the trials draw only servable shapes — otherwise the
        // all-servable conjunction is rare and the fire path undersampled
        val pool = if (rnd.nextBoolean()) aggPool.filter(_.servable) else aggPool
        val aggs = rnd.shuffle(pool).take(1 + rnd.nextInt(3))
        val tag = s"trial=$trial $wl/$gl/${aggs.map(_.label).mkString("+")}"

        def q = raw.groupBy(gs(w): _*)
          .agg(aggs.head.c.as("a0"),
            aggs.tail.zipWithIndex.map { case (s, i) => s.c.as(s"a${i + 1}") }: _*)
        val expectRewrite = aligned && gOk && aggs.forall(_.servable) &&
          (hasSym || !aggs.exists(s => Set("minby_open", "maxby_close")(s.label)))
        val s = scans(q)
        assert(s.contains("rollup") == expectRewrite,
          s"$tag: expectRewrite=$expectRewrite but scans:\n$s")
        if (expectRewrite) fired += 1

        if (aggs.forall(_.det(hasSym))) {
          val served = q.collect().map(_.toString).sorted
          RollupCatalog.clear()
          val rawRes = q.collect().map(_.toString).sorted
          RollupCatalog.register(raw, 15L * 60 * 1000000,
            spark.read.parquet(s"$base/rollup"))
          assert(served.sameElements(rawRes), s"$tag: served != raw")
        }
      }
      assert(fired >= 5, s"only $fired/40 trials exercised the rewrite path")
    } finally {
      RollupCatalog.clear()
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("property: chunked finite indicators == plain window, random gaps and chunk widths") {
    import graft.operators.{Indicators, Skew}
    // The halo-resolution logic (spanning short chunks, skipping empty
    // ones, capping at source size) is the newest plan-level code in the
    // repo; pin it against randomly-thinned series and chunk widths far
    // smaller than the 201-row halo, where every chunk's warm-up must
    // stitch across MANY predecessors.
    val cases = Seq((60, 97L), (45, 7L), (30, 3L)) // (chunk minutes, keep-mod)
    for ((chunkMin, keepMod) <- cases) Reuse.releasing {
      val bars = graft.sources.Generator.ohlcv(spark, Seq("hot", "cold"), 1500L)
        .filter(pmod(xxhash64(col("ts")), lit(keepMod)) =!= 0) // random thinning
      val chunk = floor(unix_micros(col("ts").cast("timestamp")) /
        lit(chunkMin * 60L * 1000000L))
      val cols = Seq("symbol", "ts", "sma_20", "sma_50", "sma_200", "bb_middle",
        "bb_upper", "bb_lower", "rsi_14", "atr_14")
      val plain = Skew.finiteIndicators(bars,
          Indicators.Series(Seq(col("symbol")), Seq(col("ts"))))
        .select(cols.map(col): _*).collect().map(_.toString).sorted
      val chunked = Skew.chunkedFiniteIndicators(bars, Seq(col("symbol")),
          Seq(col("ts")), chunk)
        .select(cols.map(col): _*).collect().map(_.toString).sorted
      assert(chunked.length == plain.length, s"case ($chunkMin, $keepMod)")
      assert(chunked.sameElements(plain), s"case ($chunkMin, $keepMod)")
    }
  }

  test("property: salted aggregation == direct aggregation, any bucket count") {
    import graft.operators.Skew
    for (buckets <- Seq(1, 2, 7, 32)) {
      val df = bars.withColumn("id", unix_micros(col("ts").cast("timestamp")))
      val direct = df.groupBy("symbol").agg(
          count(lit(1)).as("n"),
          sum(col("close").cast("decimal(38,10)")).cast("double").as("sum"),
          min("close").as("min"), max("close").as("max"))
        .collect().map(_.toString).sorted
      val salted = Skew.saltedStats(df, col("symbol"), col("id"), col("close"),
          buckets)
        .collect().map(_.toString).sorted
      assert(salted.sameElements(direct), s"buckets=$buckets")
    }
  }

  test("property: chronological splits conserve rows and order, any cuts") {
    for (cuts <- Seq(Seq(0.5), Seq(0.8), Seq(0.6, 0.8), Seq(0.33, 0.66))) {
      val labels = (1 to cuts.size + 1).map(i => s"s$i")
      val out = Split.chronological(bars, Seq(col("ts"), col("symbol")), cuts, labels)
      val sizes = out.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sizes.values.sum == bars.count(), s"cuts=$cuts")
      // every earlier split's max ts <= next split's min ts
      val ranges = out.groupBy("split").agg(min("ts").as("mn"), max("ts").as("mx"))
        .collect().map(r => r.getString(0) ->
          (r.getAs[java.time.LocalDateTime](1), r.getAs[java.time.LocalDateTime](2))).toMap
      labels.sliding(2).foreach { case Seq(a, b) =>
        if (ranges.contains(a) && ranges.contains(b))
          assert(!ranges(a)._2.isAfter(ranges(b)._1), s"cuts=$cuts $a->$b")
      }
    }
  }

  test("property: token packing == driver-side prefix fold, random corpora and budgets") {
    val params = org.scalacheck.Gen.Parameters.default
    val docGen = for {
      src <- Gen.oneOf("a", "b", "c", "d")
      id <- Gen.choose(1L, 100000L)
      tok <- Gen.frequency(8 -> Gen.choose(0, 300), 1 -> Gen.const(0),
        1 -> Gen.choose(900, 3000)) // include empty docs and budget-oversized docs
    } yield (src, id, tok)
    for (seed <- Seq(11L, 42L); budget <- Seq(1L, 256L, 1024L)) {
      val rows = (0 until 400).flatMap(k => docGen.apply(params, Seed(seed + k)))
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (src,id) keys
      val expected = rows.groupBy(_._1).flatMap { case (src, ds) =>
        ds.sortBy(_._2).foldLeft((0L, List.empty[((String, Long), (Long, Long))])) {
          case ((pre, acc), (_, id, tok)) =>
            (pre + tok, ((src, id), (pre / budget, pre % budget)) :: acc)
        }._2
      }
      val got = Split.packByTokenBudget(rows.toDF("src", "id", "n_tok"),
          Seq(col("src")), Seq(col("id")), col("n_tok"), budget)
        .select(col("src"), col("id"), col("bin_id"), col("bin_offset"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => ((r._1, r._2), (r._3, r._4))).toMap
      assert(got == expected, s"seed=$seed budget=$budget")
      // the chunked two-phase form must reproduce the same driver-side
      // fold for ANY monotone chunking of the order key — including a
      // chunk size of 1 (every row its own chunk) and irregular DIV
      // boundaries that split sources unevenly
      for (chunkRows <- Seq(1L, 7L, 1000L)) {
        val gotChunked = Split.packByTokenBudgetChunked(
            rows.toDF("src", "id", "n_tok"), Seq(col("src")), Seq(col("id")),
            expr(s"id DIV $chunkRows"), col("n_tok"), budget)
          .select(col("src"), col("id"), col("bin_id"), col("bin_offset"))
          .as[(String, Long, Long, Long)].collect()
          .map(r => ((r._1, r._2), (r._3, r._4))).toMap
        assert(gotChunked == expected, s"seed=$seed budget=$budget chunk=$chunkRows")
      }
    }
  }

  test("property: bloom-pruned drop-list application == plain anti-join on random sets") {
    val params = org.scalacheck.Gen.Parameters.default
    for (seed <- Seq(3L, 77L)) {
      val ids = (0 until 600).flatMap(k =>
        Gen.choose(-20000L, 20000L).apply(params, Seed(seed + k))).distinct
      val dropIds = ids.filter(_ % 5 == 0) ++
        (0 until 100).flatMap(k => // drops absent from the corpus too
          Gen.choose(50000L, 60000L).apply(params, Seed(seed * 31 + k)))
      val corpus = ids.toDF("doc_id")
      val drops = dropIds.distinct.toDF("drop_id")
      val want = Dedup.pruneDuplicates(corpus, col("doc_id"), drops)
        .as[Long].collect().sorted
      for (fpp <- Seq(0.4, 0.01)) {
        val got = Dedup.pruneDuplicatesBloom(corpus, col("doc_id"), drops,
            expectedDrops = math.max(1, dropIds.size).toLong, fpp = fpp)
          .as[Long].collect().sorted
        assert(got.sameElements(want), s"seed=$seed fpp=$fpp")
      }
    }
  }

  test("property: stratified sample and shuffled shards == driver-side hash math, incl. negative keys") {
    // library keys need not be positive doc_ids: pmod keeps the hash in
    // [0, 2^32) for negative keys too, so both ops must match a driver-side
    // floorMod reference on a key range straddling zero
    val keys = (-5000L to 5000L).filter(_ % 3 != 0)
    val docs = keys.map(k => (k, if (k % 2 == 0) "even" else "odd")).toDF("id", "src")
    def floorMod32(x: Long) = java.lang.Math.floorMod(x, 4294967296L)

    val rates = Map("even" -> 0.3)
    val sampled = Split.stratifiedHashSample(docs, $"id", $"src", rates, defaultRate = 0.7)
      .select($"id").as[Long].collect().toSet
    val expectSample = keys.filter { k =>
      val cut = if (k % 2 == 0) math.round(0.3 * 4294967296.0) else math.round(0.7 * 4294967296.0)
      floorMod32(k * 2246822519L) < cut
    }.toSet
    assert(sampled == expectSample)

    val sharded = Split.shuffledShards(docs, $"id", nShards = 5)
      .select($"id", $"shard_id", $"pos").as[(Long, Int, Int)].collect()
    val expectShard = keys.groupBy(k => floorMod32(k * 3266489917L) % 5).flatMap {
      case (sh, ks) =>
        ks.sortBy(k => (floorMod32(k * 3266489917L), k)).zipWithIndex
          .map { case (k, i) => k -> ((sh.toInt, i + 1)) }
    }
    assert(sharded.map(r => r._1 -> ((r._2, r._3))).toMap == expectShard)
  }

  test("property: heap top-k == window top-k on adversarial score sets") {
    // score pools chosen to force collisions: few distinct values (mass
    // ties), negatives, ±extremes, and k straddling group sizes — the
    // regimes where a heap's eviction order could diverge from
    // row_number's (score DESC, id ASC)
    val pools = Seq(
      Seq(0.0, 1.0),                                  // near-total ties
      Seq(-1.5, 0.0, 2.5, 1e300, -1e300, Double.NaN), // extremes + NaN
      (0 until 37).map(_ * 0.1 - 1.8),                // many distinct
      Seq(Double.MinPositiveValue, 0.0, -0.0))        // signed zero
    for ((pool, pi) <- pools.zipWithIndex; k <- Seq(1, 7, 64)) {
      val rowGen = for {
        g <- Gen.choose(0L, 5L)
        s <- Gen.oneOf(pool)
      } yield (g, s)
      val params = org.scalacheck.Gen.Parameters.default
      // ids unique by construction: a duplicated (score, id) pair would
      // make even window-vs-window nondeterministic
      val rows = (0 until 800)
        .flatMap(i => rowGen.apply(params, Seed(1000L * pi + i))
          .map { case (g, s) => (g, s, i.toLong) })
      val df = rows.toDF("query_id", "cosine", "neighbor_id")
      val viaAgg = graft.operators.VectorOps.topKPerQuery(df, k, "cosine")
        .collect().map(_.toString).sorted
      val viaWin = Witness.topKPerQuery(df, k, "cosine")
        .collect().map(_.toString).sorted
      assert(viaAgg.sameElements(viaWin), s"pool=$pi k=$k")
    }
  }
}
